"""Multimodal column handling (north-star extension): opaque binary
payloads with typed metadata, decoded/feature-extracted via Arrow-batched
mapInPandas.

The decoder is real PIL (behind an import-try) when the library exists;
payloads that are not decodable images — and every payload in this
container, which has no imaging library — take a clearly-marked
deterministic fake branch derived from the payload bytes, so fixture
query output is identical in both environments. REAL and tested either
way: the Spark-side plumbing — binary column construction, typed metadata
schema, Arrow batch iteration, partition-parallel UDF execution, and the
metadata queries.
At 100 TB the binary payloads stay in executor-local Arrow batches; only
extracted scalar metadata ever reaches a shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..queries import query
from .util import cap_bucket_occupancy, fixture_version, memo, t

try:  # real decoder if an imaging library is ever present
    from PIL import Image  # noqa: F401

    _HAVE_PIL = True
except ImportError:
    _HAVE_PIL = False

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("format", T.StringType()),
    ]
)


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """Attach an opaque binary column + typed metadata struct.

    In production this column comes from spark.read.format('binaryFile')
    or a bytes column in parquet; here the documents' text bytes stand in
    as the payload so the plumbing is end-to-end testable.
    """
    payload = F.encode("text", "UTF-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.octet_length(payload).alias("byte_len"),
            F.lit("application/octet-stream").alias("mime"),
            F.md5("text").alias("digest"),
        ).alias("meta"),
    )


def _fake_decode(b: bytes) -> tuple[int, int, str]:
    """Deterministic fake (width, height, format) from payload bytes —
    the documented stand-in when no imaging library exists or the payload
    is not a decodable image. len(b)==0 guards: an empty document yields
    an empty payload; b[0]/b[-1] would IndexError and kill the task."""
    if not len(b):
        return 0, 0, "fake/empty"
    return (
        1 + b[0] % 64,
        1 + b[-1] % 64,
        "fake/rgb" if len(b) % 2 == 0 else "fake/gray",
    )


def _decode_one(b: bytes) -> tuple[int, int, str]:
    """(width, height, format) for one payload: real PIL decode when the
    library is present and the bytes are a decodable image; the
    deterministic fake otherwise. The fixture payloads are document text
    bytes (never a valid image), so fixture query output is identical
    with or without PIL — only genuinely decodable payloads change."""
    if _HAVE_PIL:
        import io

        try:
            with Image.open(io.BytesIO(b)) as img:
                return int(img.width), int(img.height), f"image/{(img.format or 'raw').lower()}"
        except Exception:
            pass  # not an image — fall through to the deterministic fake
    return _fake_decode(b)


def decode_image_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas decoder: binary payload -> (width, height, format).

    With PIL present each payload is really decoded
    (Image.open(io.BytesIO(buf))); without it — this container — the
    dimensions are a deterministic fake derived from the payload bytes so
    tests have stable expectations. The Arrow batch shape, schema and
    partition parallelism are identical either way.
    """
    for pdf in batches:
        decoded = [_decode_one(bytes(b)) for b in pdf["payload"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "byte_len": pdf["payload"].str.len().astype("int64"),
                "width": pd.Series([d[0] for d in decoded], dtype="int32"),
                "height": pd.Series([d[1] for d in decoded], dtype="int32"),
                "format": [d[2] for d in decoded],
            }
        )


@query(
    "multimodal_meta",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS byte_len,
           md5(text)                  AS digest,
           'application/octet-stream' AS mime
    FROM documents
    """,
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata extracted from the binary payload column (byte
    length + content digest) — pure JVM expressions, no decode needed."""
    docs = t(spark, sf_dir, "documents")
    bin_df = with_binary_payload(docs)
    return bin_df.select(
        "doc_id",
        F.col("meta.byte_len").alias("byte_len"),
        F.col("meta.digest").alias("digest"),
        F.col("meta.mime").alias("mime"),
    )


@query("multimodal_decode")
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched fake decode over the binary column (rows-only: the
    stub's outputs are deterministic but not SQL-expressible; plumbing is
    asserted in tests/test_multimodal.py)."""
    docs = t(spark, sf_dir, "documents")
    bin_df = with_binary_payload(docs).select("doc_id", "payload")
    return bin_df.mapInPandas(decode_image_batch, DECODED_SCHEMA)


_FRAME_BYTES = 64
_FRAME_STRIDE = 2  # sample every 2nd frame


@query(
    "multimodal_frame_sample",
    oracle=f"""
    WITH p AS (
        SELECT doc_id, text,
               CAST(ceil(length(text) / {_FRAME_BYTES}.0) AS BIGINT) AS n_frames
        FROM documents
    )
    SELECT doc_id, i AS frame_idx,
           length(substring(text, CAST(i * {_FRAME_BYTES} + 1 AS BIGINT),
                            {_FRAME_BYTES}))                    AS frame_bytes,
           md5(substring(text, CAST(i * {_FRAME_BYTES} + 1 AS BIGINT),
                         {_FRAME_BYTES}))                       AS frame_digest
    FROM p, UNNEST(range(0, n_frames, {_FRAME_STRIDE})) AS t(i)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over an opaque binary payload (the video-column
    shape): chunk the payload into fixed-size frames, keep every
    STRIDE-th, emit per-frame size + digest. Pure built-in expressions —
    sequence/explode/substring operate on the BINARY column JVM-side, so
    a 100 TB video corpus never leaves executor memory and only scalar
    frame metadata shuffles.

    (The oracle slices the same bytes via VARCHAR substring — the fixture
    payload is ASCII text bytes, so character and byte offsets coincide;
    Spark-side runs on the real binary column.)
    """
    docs = t(spark, sf_dir, "documents")
    bin_df = with_binary_payload(docs).select("doc_id", "payload")
    n_frames = F.ceil(F.octet_length("payload") / float(_FRAME_BYTES))
    idx = F.sequence(
        F.lit(0), n_frames - 1, F.lit(_FRAME_STRIDE)
    )
    framed = bin_df.filter(n_frames > 0).select(
        "doc_id", "payload", F.explode(idx).alias("frame_idx")
    )
    frame = F.expr(
        f"substring(payload, frame_idx * {_FRAME_BYTES} + 1, {_FRAME_BYTES})"
    )
    return framed.select(
        "doc_id",
        "frame_idx",
        F.octet_length(frame).alias("frame_bytes"),
        F.md5(frame).alias("frame_digest"),
    )


THUMB_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("thumb", T.BinaryType()),
        T.StructField("mean_byte", T.DoubleType()),
    ]
)

_THUMB_SIDE = 8  # 8x8 "thumbnail"


def resize_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas resize + feature-extract: payload -> fixed 8x8
    "thumbnail" bytes + mean-byte feature.

    With PIL present, decodable payloads are really resized
    (Image.open -> grayscale -> resize((8, 8)).tobytes()); payloads that
    are not images (all fixture payloads — document text bytes) and the
    no-PIL container fall back to a deterministic stride-sample of the
    payload bytes (cycled to fill 64 bytes). The Arrow batch shape,
    binary-in/binary-out schema, and partition parallelism are identical
    either way.
    """
    n_out = _THUMB_SIDE * _THUMB_SIDE
    for pdf in batches:
        thumbs, means = [], []
        for buf in pdf["payload"]:
            b = bytes(buf)
            if _HAVE_PIL and b:
                import io

                try:
                    with Image.open(io.BytesIO(b)) as img:
                        sampled = (
                            img.convert("L")
                            .resize((_THUMB_SIDE, _THUMB_SIDE))
                            .tobytes()
                        )
                    thumbs.append(sampled)
                    means.append(sum(sampled) / float(n_out))
                    continue
                except Exception:
                    pass  # not an image — deterministic fake below
            if not b:  # empty payload: zero thumbnail, not a ZeroDivisionError
                thumbs.append(bytes(n_out))
                means.append(0.0)
                continue
            sampled = bytes(b[(i * max(1, len(b) // n_out)) % len(b)] for i in range(n_out))
            thumbs.append(sampled)
            means.append(sum(sampled) / float(n_out))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": pd.Series([_THUMB_SIDE] * len(pdf), dtype="int32"),
                "height": pd.Series([_THUMB_SIDE] * len(pdf), dtype="int32"),
                "thumb": thumbs,
                "mean_byte": means,
            }
        )


@query("multimodal_resize")
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched fake resize/feature-extract over the binary column
    (rows-only: the stub's thumbnail bytes are deterministic but not
    SQL-expressible; shape/determinism asserted in
    tests/test_multimodal.py)."""
    docs = t(spark, sf_dir, "documents")
    bin_df = with_binary_payload(docs).select("doc_id", "payload")
    return bin_df.mapInPandas(resize_batch, THUMB_SCHEMA)


PHASH_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("phash", T.LongType())]
)

_PHASH_HAMMING = 6  # pair threshold; identical payloads land at 0


def phash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas average-hash: 8x8 thumbnail bytes -> 64-bit aHash
    (bit j set when pixel j is brighter than the thumbnail mean — the
    classic perceptual fingerprint; identical payloads hash identically,
    small visual edits flip few bits). numpy-vectorized per Arrow batch;
    works unchanged on real PIL thumbnails or the deterministic fake."""
    import numpy as np

    for pdf in batches:
        out = []
        for buf in pdf["thumb"]:
            b = np.frombuffer(bytes(buf), dtype=np.uint8)[: _THUMB_SIDE * _THUMB_SIDE]
            if b.size == 0 or b.max() == b.min():
                out.append(0)
                continue
            bits = (b > b.mean()).astype(np.uint8)
            packed = np.packbits(bits, bitorder="little").tobytes().ljust(8, b"\0")
            out.append(int.from_bytes(packed[:8], "little", signed=True))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "phash": pd.Series(out, dtype="int64")})


def phash_chunk_rows(bin_df: DataFrame) -> DataFrame:
    """(doc_id, phash, chunk, ch): perceptual fingerprint + its 4x16-bit
    band rows — the unit shared by the one-shot pair sweep
    (phash_pairs) and the persisted image-dedup index
    (build_phash_index / multimodal_dedup_against_index), so bucket
    geometry cannot drift between them."""
    fp = bin_df.mapInPandas(resize_batch, THUMB_SCHEMA).select(
        "doc_id", "thumb"
    ).mapInPandas(phash_batch, PHASH_SCHEMA)
    return fp.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col("phash"), 16 * c)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("ch"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("x"),
    ).select("doc_id", "phash", "x.chunk", "x.ch")


def phash_pairs(bin_df: DataFrame, cache_key: tuple | None = None) -> DataFrame:
    """(doc_id, payload) -> near-duplicate (doc_a, doc_b, hamming) pairs
    by perceptual hash: decode/resize -> aHash -> 4x16-bit banded
    candidate join (pigeonhole: hamming <= 3 GUARANTEES a shared chunk;
    up to the hamming-6 threshold recall stays high as flipped
    bits rarely spread across all 4 chunks) -> exact bit_count(xor)
    verification on candidates only. Same scale shape as dedup_simhash:
    fingerprints are a projection, the only shuffles are the 4-rows/doc
    band join (occupancy-capped) and the candidate verify. cache_key,
    when given, is the (key, version) pair the chunk frame is memoized
    under (util.memo); otherwise it is cached per call."""
    spark = bin_df.sparkSession
    chunks = phash_chunk_rows(bin_df)
    if cache_key is not None:
        chunks = memo(spark, *cache_key, lambda: chunks.cache())
    else:
        chunks = chunks.cache()
    chunks = cap_bucket_occupancy(chunks, ["chunk", "ch"], "doc_id", 10_000)
    pairs = (
        chunks.alias("a")
        .join(chunks.alias("b"), ["chunk", "ch", "sub"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.phash").alias("ph_a"),
            F.col("b.phash").alias("ph_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= _PHASH_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )


@query("multimodal_phash_dedup")
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image/binary near-duplicate pairs by perceptual hash over the
    decoded thumbnail (rows-only: the decode UDF is not SQL-expressible;
    tests/test_multimodal.py plants byte-identical and lightly-perturbed
    payloads and pins recall). This is the multimodal twin of
    dedup_simhash — the standard first pass of image dedup in crawl
    pipelines (byte-identical images after re-encode/resize differ in
    md5 but collide in aHash)."""
    docs = t(spark, sf_dir, "documents")
    bin_df = with_binary_payload(docs).select("doc_id", "payload")
    version = fixture_version(spark, sf_dir, "documents")
    return phash_pairs(bin_df, cache_key=(("phash_chunks", sf_dir), version))


def build_phash_index(
    spark: SparkSession, bin_df: DataFrame, index_root: str,
    lineage: str = "batch", epoch_id: int = 0,
) -> None:
    """(Re)build/extend the persisted image-dedup index from a
    (doc_id, payload) frame: one `{root}/phash` table of
    (doc_id, phash, chunk, ch) rows — 36 bytes/image of state — grown
    by atomic epoch partitions (sinks.commit_epoch_partition; same
    commit/replay/lineage discipline as the MinHash and eval-gram
    indexes). Fingerprints are computed once at index time; a new crawl
    batch never re-decodes the accumulated corpus."""
    from ..sinks import commit_epoch_partition

    commit_epoch_partition(
        spark, phash_chunk_rows(bin_df), f"{index_root}/phash",
        lineage, epoch_id,
    )


def purge_phash_index(
    spark: SparkSession, index_root: str, keys: DataFrame,
    key: str = "doc_id",
) -> int:
    """Right-to-be-forgotten delete against the persisted phash index
    (VERDICT r15 item 1): remove every fingerprint row whose doc_id
    appears in `keys`, rewriting only affected epoch partitions under
    their own names (sinks.purge_epoch_partitions). A purged image can
    never again surface as a multimodal_dedup_against_index candidate.
    Idempotent and crash-convergent per the primitive's contract."""
    from ..sinks import purge_epoch_partitions

    return purge_epoch_partitions(spark, f"{index_root}/phash", keys, key)


def multimodal_dedup_against_index(
    spark: SparkSession,
    new_bin_df: DataFrame,
    index_root: str,
    max_hamming: int = _PHASH_HAMMING,
) -> DataFrame:
    """Image near-dup hits of a NEW batch against the persisted phash
    index: (new_doc, index_doc, hamming) for stored images within the
    hamming threshold of a batch image. The batch side decodes + hashes
    only itself; candidates come from the 4x16-bit chunk equi-join
    against the stored table (bucketed on (chunk, ch) at warehouse
    scale) and are verified exactly with bit_count(xor) on the stored
    fingerprints — the corpus' bytes are never re-read."""
    from ..sinks import purge_recover

    purge_recover(spark, f"{index_root}/phash")
    new_rows = phash_chunk_rows(new_bin_df)
    stored = spark.read.parquet(f"{index_root}/phash").select(
        "doc_id", "phash", "chunk", "ch"
    )
    cand = (
        new_rows.alias("n")
        .join(stored.alias("s"), ["chunk", "ch"])
        .filter(F.col("n.doc_id") != F.col("s.doc_id"))
        .select(
            F.col("n.doc_id").alias("new_doc"),
            F.col("s.doc_id").alias("index_doc"),
            F.col("n.phash").alias("ph_n"),
            F.col("s.phash").alias("ph_s"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("ph_n").bitwiseXOR(F.col("ph_s")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("new_doc", "index_doc", "hamming")
    )


@query("multimodal_dedup_incremental")
def multimodal_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental image dedup end to end (rows-only: the decode UDF is
    not SQL-expressible; planted-payload recall pinned in
    tests/test_multimodal.py): the md5 split plays time — the corpus
    bucket's payloads were fingerprinted and indexed earlier
    (content-fingerprint-memoized build), the batch bucket arrives now
    and sweeps against the stored fingerprints alone. Completes the
    persisted-index family across modalities: text shingles
    (dedup_incremental_index), eval grams (decontaminate_incremental),
    and images here — one commit discipline, three artifact kinds."""

    from .sampling import _TEST_LT, _split_bucket
    from .util import persisted_artifact

    docs = t(spark, sf_dir, "documents")
    is_new = _split_bucket() < _TEST_LT
    (fp,) = fixture_version(spark, sf_dir, "documents")

    def build(tmp: str) -> None:
        corpus = with_binary_payload(docs.filter(~is_new)).select(
            "doc_id", "payload"
        )
        build_phash_index(spark, corpus, tmp)

    root = persisted_artifact(spark, "phash_index", sf_dir, fp, build)
    batch = with_binary_payload(docs.filter(is_new)).select("doc_id", "payload")
    return multimodal_dedup_against_index(spark, batch, root)
