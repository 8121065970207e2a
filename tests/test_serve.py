"""HTTP service-surface parity (VERDICT r6 item 7): the reference's
Cloud Function handlers (src/extract/main.py:57-76 — 200/500 envelope;
src/load/main.py:58-84 — Pub/Sub push envelope, 400 on malformed, 500 on
failure) served by the stdlib http.server wrapper, POSTed over a real
socket."""

from __future__ import annotations

import base64
import http.client
import json
import threading
import urllib.error
import urllib.parse
import urllib.request
from http.server import HTTPServer

import pytest

from build_a_cloud_based_batch_etl_pipeline_spark.config import IngestConfig
from build_a_cloud_based_batch_etl_pipeline_spark.serve import make_handler

POSTS_FIXTURE = [
    {"userId": 1, "id": 1, "title": "t1", "body": "b1"},
    {"userId": 2, "id": 2, "title": "t2", "body": "b2"},
]


@pytest.fixture()
def server(spark, tmp_path):
    cfg = IngestConfig(
        source_url="fake://posts",
        landing_uri=str(tmp_path / "landing"),
        warehouse_uri=str(tmp_path / "warehouse"),
        checkpoint_uri=str(tmp_path / "ckpt"),
    )
    handler = make_handler(
        spark, cfg, fetcher=lambda url: json.dumps(POSTS_FIXTURE).encode()
    )
    httpd = HTTPServer(("127.0.0.1", 0), handler)
    thread = threading.Thread(target=httpd.serve_forever, daemon=True)
    thread.start()
    try:
        yield f"http://127.0.0.1:{httpd.server_address[1]}", cfg
    finally:
        httpd.shutdown()
        thread.join(timeout=10)


def _post(url: str, payload: bytes = b"") -> tuple[int, dict]:
    req = urllib.request.Request(url, data=payload, method="POST")
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:
            return resp.status, json.loads(resp.read().decode())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read().decode())


def _pubsub_envelope(bucket: str, name: str) -> bytes:
    event = json.dumps({"bucket": bucket, "name": name}).encode()
    return json.dumps(
        {"message": {"data": base64.b64encode(event).decode()}}
    ).encode()


def test_extract_then_pubsub_load_roundtrip(server):
    """The full reference trigger chain over HTTP: POST /extract lands a
    batch (200 + file), then POST /load with the storage-style Pub/Sub
    envelope for that object appends it (200 + rows)."""
    base, cfg = server
    status, env = _post(f"{base}/extract")
    assert status == 200 and env["success"] is True
    landed = env["file"]
    assert landed.startswith(cfg.landing_uri)

    name = landed[len(cfg.landing_uri) + 1 :]
    status, env = _post(
        f"{base}/load", _pubsub_envelope(cfg.landing_uri, name)
    )
    assert status == 200 and env["success"] is True
    assert env["rows_appended"] == 2

    # retried trigger: idempotent, still 200, zero appended
    status, env = _post(
        f"{base}/load", _pubsub_envelope(cfg.landing_uri, name)
    )
    assert status == 200 and env["rows_appended"] == 0


def test_load_invalid_envelope_is_400(server):
    """Malformed trigger payloads get the reference's exact 400 body
    (src/load/main.py:82), not a 500."""
    base, _cfg = server
    for bad in (b"", b"not json", b'{"message": {}}', b'{"nope": 1}'):
        status, env = _post(f"{base}/load", bad)
        assert status == 400
        assert env == {"success": False, "error": "Invalid request format"}


def test_load_failure_is_500(server):
    """A well-formed envelope pointing at a missing object fails the
    load step: 500 with the error envelope (src/load/main.py:84)."""
    base, cfg = server
    status, env = _post(
        f"{base}/load", _pubsub_envelope(cfg.landing_uri, "does/not/exist")
    )
    assert status == 500
    assert env["success"] is False and env["error"]


def test_unknown_route_is_400(server):
    base, _cfg = server
    status, env = _post(f"{base}/whatever")
    assert status == 400 and env["success"] is False


def test_pipeline_route_full_tick(server):
    """POST /pipeline = extract + load in one envelope (the engine's
    one-tick composition of the reference's two functions)."""
    base, _cfg = server
    status, env = _post(f"{base}/pipeline")
    assert status == 200 and env["success"] is True
    assert env["rows_appended"] == 2 and env["file"]


@pytest.fixture()
def ann_index(spark, sf_dir):
    from build_a_cloud_based_batch_etl_pipeline_spark.operators import (
        similarity as sim,
    )

    return sim._pq_index_artifact(spark, sf_dir), spark.read.parquet(
        f"{sf_dir}/embeddings.parquet"
    )


def test_ann_route_serves_topk(server, ann_index, spark):
    """POST /ann (VERDICT r15 item 6 — the query-side service surface):
    a bounded query batch returns the same (qid, nid, adc_score) rows
    serve_ann_ivf_pq computes, through a real socket."""
    from build_a_cloud_based_batch_etl_pipeline_spark.operators import (
        similarity as sim,
    )

    base, _cfg = server
    root, emb = ann_index
    qrows = emb.select("vec_id", "embedding").orderBy("vec_id").limit(4).collect()
    body = json.dumps(
        {
            "index_root": root,
            "k": 3,
            "queries": [
                {"vec_id": r.vec_id, "embedding": list(r.embedding)}
                for r in qrows
            ],
        }
    ).encode()
    status, env = _post(f"{base}/ann", body)
    assert status == 200 and env["success"] is True
    got = sorted((r["qid"], r["nid"], r["adc_score"]) for r in env["results"])

    q_df = spark.createDataFrame(
        [(r.vec_id, list(r.embedding)) for r in qrows],
        "vec_id long, embedding array<double>",
    )
    want = sorted(
        (r.qid, r.nid, r.adc_score)
        for r in sim.serve_ann_ivf_pq(spark, q_df, root, k=3).collect()
    )
    assert got == want and got


def test_ann_route_malformed_and_overcap_are_400(server, ann_index, monkeypatch):
    from build_a_cloud_based_batch_etl_pipeline_spark.operators import (
        similarity as sim,
    )

    base, _cfg = server
    root, emb = ann_index
    # malformed: not json / missing fields / ragged embeddings
    assert _post(f"{base}/ann", b"nope")[0] == 400
    assert _post(f"{base}/ann", json.dumps({"queries": []}).encode())[0] == 400
    ragged = {
        "index_root": root,
        "queries": [
            {"vec_id": 1, "embedding": [0.1, 0.2]},
            {"vec_id": 2, "embedding": [0.1]},
        ],
    }
    status, env = _post(f"{base}/ann", json.dumps(ragged).encode())
    assert status == 400 and "ragged" in env["error"]
    # a non-integer or negative Content-Length: the 400 envelope, not a
    # dropped connection or a read that blocks until the client leaves;
    # a length over the body cap: the 413 envelope, answered from the
    # header alone (no body is sent, so a server that read first would
    # block until the timeout)
    from build_a_cloud_based_batch_etl_pipeline_spark import serve

    host = urllib.parse.urlsplit(base).netloc
    over_cap = str(serve._MAX_BODY_BYTES + 1)
    for bad, want, body in (("abc", 400, b"{}"), ("-1", 400, b"{}"), (over_cap, 413, None)):
        conn = http.client.HTTPConnection(host, timeout=30)
        try:
            conn.putrequest("POST", "/ann")
            conn.putheader("Content-Length", bad)
            conn.endheaders(body)
            resp = conn.getresponse()
            status, env = resp.status, json.loads(resp.read().decode())
        finally:
            conn.close()
        assert status == want and env["success"] is False, bad
        assert ("Content-Length" if want == 400 else "cap") in env["error"], bad
    # the cap admits a full batch at the engine's embedding width, with
    # every float at its longest JSON form
    worst = json.dumps({"vec_id": sim._MAX_QUERY_ROWS, "embedding": [-1.2345678901234567e-300] * sim._DIM})
    assert (len(worst) + 2) * sim._MAX_QUERY_ROWS + 1024 < serve._MAX_BODY_BYTES

    # over-cap: 400 with the tiling hint, BEFORE any Spark work
    monkeypatch.setattr(sim, "_MAX_QUERY_ROWS", 2)
    over = {
        "index_root": root,
        "queries": [
            {"vec_id": i, "embedding": [0.1, 0.2]} for i in range(3)
        ],
    }
    status, env = _post(f"{base}/ann", json.dumps(over).encode())
    assert status == 400 and "tiled" in env["error"]


def test_ann_route_refusal_is_500(server, tmp_path):
    """A serve-side refusal (no index at the root) surfaces as the
    standard 500 envelope, not a socket error."""
    base, _cfg = server
    body = json.dumps(
        {
            "index_root": str(tmp_path / "no_index"),
            "queries": [{"vec_id": 1, "embedding": [0.1, 0.2]}],
        }
    ).encode()
    status, env = _post(f"{base}/ann", body)
    assert status == 500 and env["success"] is False
    assert "index" in env["error"]
