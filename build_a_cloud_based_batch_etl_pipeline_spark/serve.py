"""HTTP service surface: the reference's Cloud Function handlers as a
stdlib ``http.server`` app over the same job steps, with the handlers'
own routes and envelopes, not only the CLI analog.

Reference behavior mirrored exactly (src/extract/main.py:57-76,
src/load/main.py:58-84):

- ``POST /extract`` — run the extract step; body ignored (the reference
  handler reads nothing from the request). 200 with
  ``{"success": true, "message": ..., "file": ...}`` or 500 with
  ``{"success": false, "error": ...}``.
- ``POST /load`` — expects the Cloud-Pub/Sub-style envelope the
  reference's storage trigger delivers::

      {"message": {"data": base64(json({"bucket": ..., "name": ...}))}}

  ``bucket`` maps to the landing root URI and ``name`` to the landed
  object below it (the engine is object-store-agnostic: any Hadoop
  filesystem URI works as ``bucket``). 200 on success, 400 with
  ``{"success": false, "error": "Invalid request format"}`` when the
  envelope is missing/malformed (reference returns exactly this), 500
  when the load itself fails.
- ``POST /pipeline`` — one full tick (extract then load); engine
  extension with the same envelope contract.
- ``POST /ann`` — the serving entry point for the persisted IVF-PQ
  index. The reference hands all querying to BigQuery and has no
  vector surface (SURVEY.md §2.2); this route is the engine's query
  side. Body::

      {"index_root": ..., "queries": [{"vec_id": N, "embedding":
       [...]}, ...], "k": 5, "nprobe": null}

  drives operators.similarity.serve_ann_ivf_pq with the parsed rows
  (no query DataFrame), after the per-request index staleness probe
  (footer-stat version, epoch listing, purge marker, codes-file
  fingerprints; no job). Placement: with at most
  ``similarity._MAX_INDEX_ROWS`` base+epoch code rows, and a batch
  that scores at most ``similarity._RESIDENT_MAX_CANDIDATES`` codes
  (|Q| x rows x nprobe / nlist), the index is driver-resident and a
  warm request runs 0 Spark jobs; otherwise the sharded scorer runs,
  with the query batch broadcast. The resident index is one memo
  entry per index root and drift policy, replaced on the first
  request after the stamp (index version, epoch set, purge sequence,
  codes-file fingerprints) changes. 200 with ``{"success": true,
  "results": [{"qid": ..., "nid": ..., "adc_score": ...}, ...]}``;
  400 with the standard envelope on a malformed body (missing/ragged
  queries, non-numeric k) and on an over-cap batch — that one names
  serve_ann_ivf_pq_tiled, the documented tiling path; 413 envelope,
  before any read, on a body larger than _MAX_BODY_BYTES; 500 envelope
  when the serve itself refuses (torn index, drifted epochs,
  mixed-codebook codes).

No flask / functions_framework: the sandbox ships neither, and a
scheduled-batch engine needs ~60 lines of stdlib routing, not a web
framework. The Spark session is created once at server start (JVM
spin-up must not be paid per request) and shared across requests —
requests are serialized by the single-threaded HTTPServer, matching the
one-tick-at-a-time cron semantics.
"""

from __future__ import annotations

import base64
import json
from http.server import BaseHTTPRequestHandler, HTTPServer
from typing import Any, Callable

from pyspark.sql import SparkSession

from . import ingest, job
from .config import IngestConfig


# Request-body cap on every route, refused with 413 before the body is
# read. Sized for the largest legal /ann body: _MAX_QUERY_ROWS (100k)
# queries of _DIM (64) floats, each float at most 24 JSON characters
# plus a ", " separator, plus ~64 bytes of per-query framing — about
# 173 MB — so a full batch fits with headroom.
_MAX_BODY_BYTES = 256 << 20


def _parse_pubsub_envelope(body: bytes) -> tuple[str, str] | None:
    """Extract (bucket, name) from a Pub/Sub push envelope; None if the
    format is invalid — which the handler maps to the reference's 400."""
    try:
        request_json = json.loads(body.decode("utf-8"))
        pubsub_message = request_json["message"]
        event = json.loads(
            base64.b64decode(pubsub_message["data"]).decode("utf-8")
        )
        return str(event["bucket"]), str(event["name"])
    except Exception:
        return None


def _parse_ann_request(body: bytes) -> tuple[str, list, int, int | None] | str:
    """(index_root, query rows, k, nprobe) from a /ann body, or an
    error STRING describing the 400. Validation is driver-side and
    O(|Q|): the batch is bounded by the serve cap anyway, and a ragged
    or non-numeric embedding must be the caller's 400, not a numpy
    stack trace out of an executor."""
    from .operators.similarity import _MAX_QUERY_ROWS

    try:
        req = json.loads(body.decode("utf-8"))
        root = req["index_root"]
        queries = req["queries"]
        k = int(req.get("k", 5))
        nprobe = req.get("nprobe")
        nprobe = None if nprobe is None else int(nprobe)
    except Exception:
        return "Invalid request format"
    if not isinstance(root, str) or not isinstance(queries, list):
        return "Invalid request format"
    if not queries:
        return "queries must be a non-empty list"
    if k <= 0:
        return "k must be positive"
    if len(queries) > _MAX_QUERY_ROWS:
        return (
            f"query batch of {len(queries)} exceeds the "
            f"{_MAX_QUERY_ROWS}-row per-request cap — tile the batch "
            "across requests, or run it offline via "
            "serve_ann_ivf_pq_tiled"
        )
    rows = []
    dim = None
    for q in queries:
        try:
            vid = int(q["vec_id"])
            emb = [float(x) for x in q["embedding"]]
        except Exception:
            return "Invalid request format"
        if dim is None:
            dim = len(emb)
        if not emb or len(emb) != dim:
            return "ragged or empty embedding in query batch"
        rows.append((vid, emb))
    return root, rows, k, nprobe


def make_handler(
    spark: SparkSession,
    cfg: IngestConfig,
    fetcher: ingest.Fetcher | None = None,
) -> type[BaseHTTPRequestHandler]:
    """Build the request-handler class bound to one Spark session and
    config (the test injects a fake fetcher the same way job tests do)."""

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args: Any) -> None:  # quiet test output
            pass

        def _reply(self, status: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _run(self, step: Callable[[], dict]) -> None:
            envelope = step()
            self._reply(200 if envelope.get("success") else 500, envelope)

        def do_POST(self) -> None:  # noqa: N802 (http.server contract)
            # a malformed or negative length is refused before any read:
            # int() would raise and drop the connection, and read(-1)
            # would block until the client hangs up
            try:
                n = int(self.headers.get("Content-Length") or 0)
            except ValueError:
                n = -1
            if n < 0:
                self._reply(
                    400,
                    {"success": False, "error": "Invalid Content-Length"},
                )
                return
            if n > _MAX_BODY_BYTES:
                err = f"request body over the {_MAX_BODY_BYTES}-byte cap"
                self._reply(413, {"success": False, "error": err})
                return
            body = self.rfile.read(n) if n else b""
            if self.path == "/extract":
                self._run(lambda: job.run_extract(spark, cfg, fetcher=fetcher))
            elif self.path == "/pipeline":
                self._run(lambda: job.run_pipeline(spark, cfg, fetcher=fetcher))
            elif self.path == "/ann":
                parsed = _parse_ann_request(body)
                if isinstance(parsed, str):
                    self._reply(400, {"success": False, "error": parsed})
                    return
                root, rows, k, nprobe = parsed
                try:
                    from .operators.similarity import serve_ann_ivf_pq

                    out = [
                        {"qid": r.qid, "nid": r.nid, "adc_score": r.adc_score}
                        for r in serve_ann_ivf_pq(
                            spark, None, root, k=k, nprobe=nprobe, q_rows=rows
                        ).collect()
                    ]
                except Exception as exc:  # serve refusals -> 500 envelope
                    self._reply(500, {"success": False, "error": str(exc)})
                    return
                self._reply(200, {"success": True, "results": out})
            elif self.path == "/load":
                parsed = _parse_pubsub_envelope(body)
                if parsed is None:
                    # reference src/load/main.py:82 — malformed trigger
                    # payload is a 400, not a 500
                    self._reply(
                        400,
                        {"success": False, "error": "Invalid request format"},
                    )
                    return
                bucket, name = parsed
                self._run(
                    lambda: job.run_load(
                        spark, cfg, landing_path=f"{bucket}/{name}"
                    )
                )
            else:
                self._reply(
                    400, {"success": False, "error": "Invalid request format"}
                )

    return Handler


def serve(
    host: str = "127.0.0.1",
    port: int = 8080,
    cfg: IngestConfig | None = None,
) -> HTTPServer:
    """Start the service (blocking). Returns only via KeyboardInterrupt."""
    from .session import get_spark

    spark = get_spark("etl-http")
    server = HTTPServer((host, port), make_handler(spark, cfg or IngestConfig()))
    server.serve_forever()
    return server


if __name__ == "__main__":
    serve()
