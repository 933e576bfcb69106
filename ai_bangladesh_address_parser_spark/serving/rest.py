"""S8 REST source/sink: ``/extract`` + ``/health`` over a live SparkSession.

Reference surface: ``api/python/fastapi_server.py:61-84`` (FastAPI
``POST /extract`` → components/overall_confidence/normalized/original/
cached, ``GET /health``, ``GET /``). Re-expressed Spark-first with no
new dependencies (FastAPI/uvicorn are absent from this container and
unnecessary): a stdlib ``ThreadingHTTPServer`` front end over ONE
long-lived SparkSession.

Serving design — the part that is Spark-shaped rather than a port:

* **Micro-batched execution.** Handler threads never submit Spark jobs
  themselves; they enqueue the request and wait on a per-request event.
  A single dispatcher thread drains everything queued (up to
  ``max_batch``) into ONE small DataFrame job through the SAME
  ``extract_evidence → resolve_evidence`` battery the batch pipeline
  uses. Concurrent callers amortize job-launch overhead exactly like a
  Structured Streaming micro-batch; one caller pays one tiny job.
* **FIFO result cache** keyed on ``address.strip().lower()`` — the
  reference extractor's 10k-entry cache with FIFO eviction
  (``src/core/extractor.py:85-89``, ``production_address_extractor.py:
  962-964,1077-1081``); hits skip Spark entirely and return
  ``cached: true``.
* The per-request response matches the reference's output assembly
  (``production_address_extractor.py:1041-1071``): 9-component dict
  (country rides outside it, as in the reference), overall confidence =
  mean of resolved component confidences, ``detailed`` adds script info
  and per-component value/confidence/source.
"""

from __future__ import annotations

import json
import threading
import time
from collections import deque
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession

SERVICE_INFO = {
    "service": "Bangladesh Address Extractor API (Spark)",
    "version": "1.0.0",
    "status": "ready",
}


def extract_texts(
    spark: SparkSession,
    texts: list[str],
    *,
    gazetteer=None,
    area_vocab=None,
    stages: frozenset[str] | None = None,
) -> list[dict]:
    """Run the full extraction battery over ``texts`` in ONE Spark job;
    return one reference-shaped result dict per input, in order.

    Each text is treated as one address (the reference's ``extract``
    contract), not harvested for embedded mentions like the page
    pipeline — ``mention_id`` is the input index.
    """
    from pyspark.sql import functions as F

    from ..data.gazetteer import local_df
    from ..functions.country import country_expr
    from ..functions.normalize import normalize_expr
    from ..functions.script import script_cols
    from ..operators.extract import extract_evidence
    from ..operators.resolve import resolve_evidence
    from ..reference_semantics import ALL_COMPONENTS

    rows = [(str(i), t if isinstance(t, str) else "") for i, t in enumerate(texts)]
    base = local_df(spark, rows, "mention_id string, text string")
    mentions = base.select(
        "mention_id", normalize_expr(F.col("text")).alias("normalized")
    )
    sc = script_cols("normalized")
    meta_rows = mentions.select(
        "mention_id",
        "normalized",
        sc["primary_script"].alias("script"),
        sc["is_mixed"].alias("is_mixed"),
        country_expr("normalized").alias("c"),
    ).collect()
    resolved = resolve_evidence(
        extract_evidence(
            mentions.filter(F.length("normalized") > 0),
            id_col="mention_id",
            text_col="normalized",
            gazetteer=gazetteer,
            area_vocab=area_vocab,
            stages=stages,
        )
    ).collect()

    by_id: dict[str, list] = {}
    for r in resolved:
        by_id.setdefault(r["mention_id"], []).append(r)

    out = []
    for i, text in enumerate(texts):
        meta = meta_rows[i]
        comps = {c: "" for c in ALL_COMPONENTS}
        details = {}
        confs = []
        for r in by_id.get(str(i), []):
            if r["component"] == "_error":
                continue
            comps[r["component"]] = r["value"] or ""
            details[r["component"]] = {
                "value": r["value"],
                "confidence": r["confidence"],
                "source": r["source"],
            }
            if r["confidence"]:
                confs.append(r["confidence"])
        out.append({
            "components": comps,
            "overall_confidence": sum(confs) / len(confs) if confs else 0.0,
            "normalized_address": meta["normalized"],
            "original_address": text if isinstance(text, str) else "",
            "metadata": {
                "script": meta["script"],
                "is_mixed": bool(meta["is_mixed"]),
                "component_details": details,
                "country": meta["c"]["country"],
                "country_confidence": meta["c"]["country_confidence"],
            },
        })
    return out


@dataclass
class _Pending:
    address: str
    event: threading.Event = field(default_factory=threading.Event)
    result: dict | None = None


class AddressService:
    """Micro-batching, caching front end over ``extract_texts``."""

    def __init__(
        self,
        spark: SparkSession,
        *,
        gazetteer=None,
        area_vocab=None,
        stages: frozenset[str] | None = None,
        cache_size: int = 10_000,
        max_batch: int = 256,
        poll_interval_s: float = 0.01,
    ):
        self.spark = spark
        self.gazetteer = gazetteer
        self.area_vocab = area_vocab
        self.stages = stages
        self.cache_size = cache_size
        self.max_batch = max_batch
        self.poll_interval_s = poll_interval_s
        self._cache: dict[str, dict] = {}
        # serving metrics: how many Spark jobs (batches) served how many
        # uncached requests — the amortization ratio the micro-batch
        # design exists for (requests/batch ≫ 1 under concurrency)
        self.n_batches = 0
        self.n_batched_requests = 0
        # wall seconds of the most recent batch drains (bounded: the
        # service is long-lived)
        self.drain_s: deque[float] = deque(maxlen=1024)
        self._queue: list[_Pending] = []
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._worker = threading.Thread(target=self._drain_loop, daemon=True)
        self._worker.start()

    # -- public ----------------------------------------------------------

    def extract(self, address: str, detailed: bool = False) -> dict:
        t0 = time.time()
        key = address.strip().lower()
        with self._lock:
            hit = self._cache.get(key)
        if hit is not None:
            result = dict(hit)
            result["cached"] = True
            result["extraction_time_ms"] = (time.time() - t0) * 1000
        else:
            p = _Pending(address)
            # enqueue and stop-check under ONE lock: close() sets _stop
            # under the same lock, so no request can slip in after the
            # final drain and wait forever on a dead dispatcher
            with self._lock:
                if self._stop.is_set():
                    p.result = self._error_result(address, "service closed")
                else:
                    self._queue.append(p)
            if p.result is None:
                p.event.wait()
            result = dict(p.result or {})
            result["cached"] = False
            result["extraction_time_ms"] = (time.time() - t0) * 1000
            # error results (dispatcher exception, closed service) are
            # NOT cached — a transient Spark failure must not poison the
            # cache entry for this address until 10k evictions later
            if "error" not in result:
                with self._lock:
                    if len(self._cache) >= self.cache_size:  # FIFO eviction
                        self._cache.pop(next(iter(self._cache)))
                    self._cache[key] = {
                        k: v for k, v in result.items()
                        if k not in ("cached", "extraction_time_ms")
                    }
        if not detailed:
            result.pop("metadata", None)
        return result

    def close(self) -> None:
        with self._lock:
            self._stop.set()
        self._worker.join(timeout=5)
        # fail any request still queued — its handler thread is blocked
        # on event.wait() and the dispatcher will never drain it
        with self._lock:
            leftover, self._queue = self._queue, []
        for p in leftover:
            p.result = self._error_result(p.address, "service closed")
            p.event.set()

    @staticmethod
    def _error_result(address: str, error: str) -> dict:
        return {
            "components": {},
            "overall_confidence": 0.0,
            "normalized_address": "",
            "original_address": address,
            "error": error,
        }

    # -- dispatcher ------------------------------------------------------

    def _drain_loop(self) -> None:
        while not self._stop.is_set():
            with self._lock:
                batch, self._queue = (
                    self._queue[: self.max_batch],
                    self._queue[self.max_batch:],
                )
            if not batch:
                self._stop.wait(self.poll_interval_s)
                continue
            self.n_batches += 1
            self.n_batched_requests += len(batch)
            t0 = time.time()
            try:
                results = extract_texts(
                    self.spark,
                    [p.address for p in batch],
                    gazetteer=self.gazetteer,
                    area_vocab=self.area_vocab,
                    stages=self.stages,
                )
            except Exception as e:  # D4 error isolation: never kill serving
                results = [self._error_result(p.address, str(e)) for p in batch]
            # recorded before any waiter wakes, so a caller that has its
            # result also sees the drain that produced it
            self.drain_s.append(time.time() - t0)
            for p, r in zip(batch, results):
                p.result = r
                p.event.set()


class _Handler(BaseHTTPRequestHandler):
    service: AddressService  # injected by serve()

    def _send(self, code: int, payload: dict) -> None:
        body = json.dumps(payload, ensure_ascii=False).encode("utf-8")
        self.send_response(code)
        self.send_header("Content-Type", "application/json; charset=utf-8")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args) -> None:  # quiet test output
        pass

    def do_GET(self) -> None:
        if self.path == "/health":
            self._send(200, {"status": "healthy", "extractor_ready": True})
        elif self.path == "/":
            self._send(200, SERVICE_INFO)
        else:
            self._send(404, {"error": "not found"})

    def do_POST(self) -> None:
        if self.path != "/extract":
            self._send(404, {"error": "not found"})
            return
        try:
            n = int(self.headers.get("Content-Length", 0))
            req = json.loads(self.rfile.read(n) or b"{}")
            address = req["address"]  # TypeError when body isn't an object
            if not isinstance(address, str):
                raise ValueError("'address' must be a string")
        except (ValueError, KeyError, TypeError) as e:
            # the reference FastAPI surface answers malformed bodies with
            # a validation error, never a dropped connection
            self._send(400, {"error": f"bad request: {e}"})
            return
        self._send(200, self.service.extract(address, bool(req.get("detailed"))))


class _Server(ThreadingHTTPServer):
    # the socketserver default backlog of 5 resets connections under a
    # burst of concurrent clients (measured: 32 simultaneous connects →
    # ECONNRESET); handler threads are cheap — they only queue on the
    # dispatcher — so accept deep
    request_queue_size = 128


def serve(
    service: AddressService, host: str = "127.0.0.1", port: int = 8000
) -> ThreadingHTTPServer:
    """Start the REST server on a daemon thread; returns the server
    (call ``.shutdown()`` to stop). Handler threads block on the
    micro-batch dispatcher, never on Spark directly."""
    handler = type("BoundHandler", (_Handler,), {"service": service})
    httpd = _Server((host, port), handler)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    return httpd
