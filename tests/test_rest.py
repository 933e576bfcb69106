"""S8 REST serving surface: /extract + /health over a live SparkSession.

Reference: ``api/python/fastapi_server.py:61-84``. The HTTP layer is
driven end-to-end with stdlib urllib against an ephemeral port; the
extraction result must agree with the batch battery on the same text.
"""

import json
import threading
import urllib.request

import pytest

from ai_bangladesh_address_parser_spark.reference_semantics import ALL_COMPONENTS
from ai_bangladesh_address_parser_spark.serving.rest import (
    AddressService,
    extract_texts,
    serve,
)

ADDR = "House 12, Road 5, Dhanmondi, Dhaka-1209"
ADDR_BN = "বাড়ি ১২, রোড ৫, ধানমন্ডি, ঢাকা-১২০৯"


@pytest.fixture(scope="module")
def service(spark):
    svc = AddressService(spark, max_batch=64, poll_interval_s=0.005)
    yield svc
    svc.close()


@pytest.fixture(scope="module")
def server(service):
    httpd = serve(service, port=0)  # ephemeral port
    yield f"http://127.0.0.1:{httpd.server_address[1]}"
    httpd.shutdown()


def _post(base, path, payload):
    req = urllib.request.Request(
        base + path,
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _get(base, path):
    with urllib.request.urlopen(base + path, timeout=30) as resp:
        return resp.status, json.loads(resp.read())


def test_extract_texts_reference_shape(spark):
    res = extract_texts(spark, [ADDR, "", "just some prose, no address"])
    assert len(res) == 3
    r = res[0]
    assert set(r["components"]) == set(ALL_COMPONENTS)
    assert r["components"]["district"] == "Dhaka"
    assert r["components"]["postal_code"] == "1209"
    assert r["components"]["house_number"] == "12"
    assert r["components"]["area"].lower() == "dhanmondi"
    assert 0 < r["overall_confidence"] <= 1
    assert r["original_address"] == ADDR
    # empty input → empty components, zero confidence (reference
    # _empty_result semantics)
    assert res[1]["overall_confidence"] == 0.0
    assert all(v == "" for v in res[1]["components"].values())


def test_health_and_root(server):
    status, body = _get(server, "/health")
    assert status == 200 and body == {"status": "healthy", "extractor_ready": True}
    status, body = _get(server, "/")
    assert status == 200 and body["status"] == "ready"


def test_extract_endpoint_matches_batch_battery(server, spark):
    status, got = _post(server, "/extract", {"address": ADDR})
    assert status == 200
    want = extract_texts(spark, [ADDR])[0]
    assert got["components"] == want["components"]
    assert got["normalized_address"] == want["normalized_address"]
    assert got["original_address"] == ADDR
    assert got["cached"] is False
    assert got["extraction_time_ms"] > 0
    assert "metadata" not in got  # detailed defaults off


def test_extract_cache_fifo(server):
    addr = ADDR_BN
    _, first = _post(server, "/extract", {"address": addr})
    _, second = _post(server, "/extract", {"address": "  " + addr.upper() + " "})
    # cache key is strip().lower() (reference extractor cache key)
    assert second["cached"] is True
    assert second["components"] == first["components"]


def test_extract_detailed_metadata(server):
    status, got = _post(server, "/extract", {"address": ADDR, "detailed": True})
    assert status == 200
    md = got["metadata"]
    assert md["script"] == "en"
    assert md["country"] == "Bangladesh"
    d = md["component_details"]["district"]
    assert d["value"] == "Dhaka" and 0 < d["confidence"] <= 1 and d["source"]


def test_extract_bad_request(server):
    status, body = _post(server, "/extract", {"nope": 1})
    assert status == 400 and "error" in body


def test_concurrent_requests_micro_batch(server):
    # distinct uncached addresses fired concurrently: the dispatcher
    # drains them into few Spark jobs; every caller gets its own answer
    addrs = [f"House {i}, Road {i}, Mirpur, Dhaka-121{i % 10}" for i in range(12)]
    results = {}

    def hit(a):
        _, r = _post(server, "/extract", {"address": a})
        results[a] = r

    threads = [threading.Thread(target=hit, args=(a,)) for a in addrs]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(results) == 12
    for i, a in enumerate(addrs):
        assert results[a]["components"]["house_number"] == str(i)
        assert results[a]["original_address"] == a


def test_bad_bodies_get_400_not_dropped(server):
    # non-object JSON bodies and non-string addresses must produce an
    # HTTP 400, never an uncaught handler exception / dropped connection
    for payload in [[1, 2], "text", 5, {"address": 123}, {"address": None}]:
        status, body = _post(server, "/extract", payload)
        assert status == 400 and "error" in body, payload


def test_errors_are_not_cached(spark):
    svc = AddressService(spark, max_batch=4, poll_interval_s=0.005)
    try:
        # force a dispatcher failure for one batch only
        real_spark = svc.spark
        svc.spark = None  # extract_texts will raise on first use
        first = svc.extract("House 3, Road 9, Banani, Dhaka")
        assert "error" in first and first["cached"] is False
        # service self-heals: same key re-runs instead of serving the
        # poisoned entry from cache
        svc.spark = real_spark
        second = svc.extract("House 3, Road 9, Banani, Dhaka")
        assert "error" not in second
        assert second["cached"] is False
        assert second["components"]["house_number"] == "3"
        third = svc.extract("House 3, Road 9, Banani, Dhaka")
        assert third["cached"] is True
    finally:
        svc.close()


def test_close_does_not_hang_pending(spark):
    svc = AddressService(spark, max_batch=4, poll_interval_s=0.005)
    svc.close()
    # post-close extract returns a closed-service error immediately
    # instead of waiting forever on the dead dispatcher
    r = svc.extract("House 1, Road 1, Gulshan, Dhaka")
    assert r["error"] == "service closed" and r["cached"] is False


def test_concurrent_load_amortizes_batches(server, service):
    """Load smoke: 32 concurrent clients x 6 requests each, distinct
    addresses (no cache hits) — the micro-batch dispatcher must serve
    them with FAR fewer Spark jobs than requests, and tail latency must
    stay bounded by a handful of batch drains."""
    import time
    from concurrent.futures import ThreadPoolExecutor

    b0, r0 = service.n_batches, service.n_batched_requests
    n_clients, per_client = 32, 6
    latencies = []

    def client(cid):
        out = []
        for j in range(per_client):
            t0 = time.time()
            code, body = _post(
                server, "/extract",
                {"address": f"House {cid + 1}, Road {j + 1}, Dhanmondi, Dhaka-12{cid % 10}{j % 10}"},
            )
            out.append((code, body.get("cached"), time.time() - t0))
        return out

    with ThreadPoolExecutor(max_workers=n_clients) as ex:
        results = [r for f in [ex.submit(client, i) for i in range(n_clients)]
                   for r in f.result()]

    total = n_clients * per_client
    assert len(results) == total
    assert all(code == 200 for code, _, _ in results)
    assert not any(cached for _, cached, _ in results)  # all distinct
    latencies = sorted(dt for _, _, dt in results)
    p95 = latencies[int(0.95 * total)]
    batches = service.n_batches - b0
    served = service.n_batched_requests - r0
    assert served == total
    # amortization: ≪ one job per request (a serial client would pay
    # `total` jobs; concurrency must collapse that by ≥ 4x)
    assert batches <= total // 4, (batches, total)
    # p95 bounded by a few batch drains of THIS run: with 32 clients
    # and max_batch=64 every queued request fits the next batch, so a
    # request waits at most for the drain in flight plus its own (2
    # drains); 4x the median drain leaves 2x for drain-length spread.
    # Relative to the measured drain, the bound follows a contended
    # host (drains stretch several-fold) yet still fails starvation or
    # unbounded queueing; the old fixed 240 s stays as a ceiling, so
    # it is never looser than before.
    drains = sorted(list(service.drain_s)[-batches:])
    median_drain = drains[len(drains) // 2]
    bound = min(240.0, 4.0 * median_drain)
    assert p95 < bound, (p95, bound, drains)
    print(f"\nREST load: {total} reqs, {batches} batches "
          f"({total / batches:.1f} req/batch), p95 {p95:.2f}s, "
          f"p50 {latencies[total // 2]:.2f}s, median drain {median_drain:.2f}s, "
          f"bound {bound:.2f}s")
