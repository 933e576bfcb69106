"""Benchmark of the linkage engine, driven through its public calls.

    python3 perfbench/run.py --workload recrawl-small --seed 0 --seconds 1 --trace 0
    python3 perfbench/run.py --smoke

One run is one fresh Spark driver process on ``local[nproc]``: set-up writes
the seeded inputs and starts the session, then the workload's operation
runs until ``--seconds`` have passed (at least once). The first
operation of the process is the one reported: it is what one ``link`` or
``ingest`` job pays. Outputs are checked after each operation, untimed.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it, prefixed
``# info``, records the seed, nproc, Spark and Java versions and the
per-operation facts. See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import workloads as W  # noqa: E402

SPANS = ("s1_extract", "s2_block", "s3_score", "s4_cluster", "sink_write",
         "ingest_batch")
SPAN_EXTRAS = {
    "s1_extract": (("mentions", "count"), ("unique_mentions", "count"),
                   ("gate_skipped", "count"), ("battery_rows", "count")),
    "s2_block": (("candidate_pairs", "count"),),
    "s3_score": (("match_edges", "count"), ("match_ratio", "ratio"),
                 ("pairs_per_s", "1/s")),
    "s4_cluster": (("entities", "count"), ("cc_rounds", "count")),
    "ingest_batch": (("state_bytes_written", "bytes"),),
}
_UNITS = {"wall_s": "s", "jobs": "count", "tasks": "count", "task_run_s": "s",
          "task_cpu_s": "s", "gc_s": "s", "core_util": "ratio",
          "python_run_s": "s", "python_bytes_sent": "bytes"}
# python-worker counters ride only the spans that run the Arrow UDF
_PYTHON_SPANS = ("s1_extract", "ingest_batch")


def per_layer_names() -> list[tuple[str, str]]:
    """(metric, unit) of every per-layer metric, in report order."""
    out = []
    for span in SPANS:
        fields = ["wall_s"] + [f for f in eventlog.TASK_FIELDS
                               if not f.startswith("python_")]
        fields.insert(fields.index("gc_s") + 1, "core_util")
        if span in _PYTHON_SPANS:
            fields += ["python_run_s", "python_bytes_sent"]
        for f in fields:
            out.append((f"{span}.{f}", _UNITS.get(f, "bytes")))
        for f, unit in SPAN_EXTRAS.get(span, ()):
            out.append((f"{span}.{f}", unit))
    out += [("trace.op_s", "s"), ("trace.eventlog_bytes", "bytes")]
    return out


# the engine's 8g default heap would take half of a small host
DRIVER_MEMORY = "2g"

END_TO_END = (("job_s", "s"), ("setup_s", "s"), ("peak_rss_mb", "MB"),
              ("output_mb", "MB"), ("pairwise_f1", "ratio"),
              ("bcubed_f1", "ratio"))


# -- process facts -----------------------------------------------------------

def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Σ VmHWM over this process, its JVM and its Python workers."""
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _d, files in os.walk(path) for f in files)


# -- session -----------------------------------------------------------------

def start_session(work: str, trace: bool):
    from ai_bangladesh_address_parser_spark.session import get_spark

    nproc = len(os.sched_getaffinity(0))
    # a fixed heap size, so no run resizes it: steadies time and memory
    conf = {"spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -Xms{DRIVER_MEMORY}",
            "spark.driver.memory": DRIVER_MEMORY}
    if trace:
        os.makedirs(f"{work}/eventlog")
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", master=f"local[{nproc}]", extra_conf=conf), nproc


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers have exited."""
    from pyspark import SparkContext

    pids = [p for p in descendants(os.getpid()) if p != os.getpid()]
    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    # the next session (``--smoke`` runs several) launches a new JVM
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)


class Tracer:
    """Wall time and a Spark job group per span; inert with tracing off."""

    def __init__(self, sc, on: bool):
        self.sc, self.on = sc, on
        self.walls: dict[str, float] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        self.sc.setJobGroup(name, name)
        t = time.perf_counter()
        try:
            yield
        finally:
            self.walls[name] = self.walls.get(name, 0.0) + time.perf_counter() - t
            self.sc.setJobGroup(eventlog.UNGROUPED, "untimed")


# -- operations ----------------------------------------------------------------

def link_op(spark, inputs, out: str, tracer: Tracer, layer: bool) -> tuple[float, dict]:
    """LinkagePlan stages in ``LinkagePlan.run`` order, then the entity
    parquet write, as ``link`` does it. → (seconds, facts)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from ai_bangladesh_address_parser_spark.plans.pipeline import LinkagePlan

    t = time.perf_counter()
    plan = LinkagePlan(spark)
    with tracer.span("s1_extract"):
        obs = Observation("s1_rows")
        plan.observations["s1_mentions"] = obs
        wide = plan.extract(spark.read.parquet(inputs.pages)).observe(
            obs, F.count(F.lit(1)).alias("rows"))
    with tracer.span("s2_block"):
        nodes = plan.unique_mentions(wide)
        pairs = plan.block(nodes, id_col="norm_key")
    with tracer.span("s3_score"):
        edges = plan.score(pairs, nodes, id_col="norm_key")
    with tracer.span("s4_cluster"):
        ents = plan.cluster(wide, edges, id_col="norm_key")
    with tracer.span("sink_write"):
        ents.write.mode("overwrite").parquet(out)
    seconds = time.perf_counter() - t

    import pyarrow.parquet as pq

    table = pq.read_table(out, columns=["url", "norm_key", "entity_id"]).to_pylist()
    pred = {r["url"]: r["entity_id"] for r in table}
    node_truth = {r["norm_key"]: inputs.truth[r["url"]] for r in table}
    pair_rows = pairs.select("id_a", "id_b").toArrow().to_pylist()
    m = plan.metrics()
    gate = m.get("s1_gate", {})
    f1, b3 = W.cluster_scores(pred, inputs.truth)
    facts = {
        "pages": inputs.n_pages,
        "mentions": m.get("s1_mentions", {}).get("rows"),
        "unique_mentions": gate.get("unique_mentions"),
        "gate_skipped": gate.get("gate_skipped"),
        "candidate_pairs": len(pair_rows),
        "match_edges": edges.count(),
        "entities": len(set(pred.values())),
        "pairwise_f1": f1,
        "bcubed_f1": b3,
        "blocking_recall": W.blocking_recall(
            [(r["id_a"], r["id_b"]) for r in pair_rows], node_truth),
        "output_bytes": dir_bytes(out),
    }
    facts["battery_rows"] = facts["unique_mentions"] - facts["gate_skipped"]
    if layer:
        from ai_bangladesh_address_parser_spark.operators.cluster import (
            connected_components,
        )

        rounds: list = []
        connected_components(edges, "id_a", "id_b", stats=rounds)
        facts["cc_rounds"] = len(rounds)
    return seconds, facts


def ingest_op(spark, inputs, state: str, tracer: Tracer) -> tuple[float, dict]:
    """One ``IncrementalLinker.link_batch`` commit into fresh state."""
    from ai_bangladesh_address_parser_spark.plans.incremental import IncrementalLinker

    t = time.perf_counter()
    linker = IncrementalLinker(spark, state)
    with tracer.span("ingest_batch"):
        linker.link_batch(spark.read.parquet(inputs.pages))
    seconds = time.perf_counter() - t

    rows = linker.entities().select("url", "norm_key", "entity_id").toArrow().to_pylist()
    pred = {r["url"]: r["entity_id"] for r in rows}
    f1, b3 = W.cluster_scores(pred, inputs.truth)
    facts = {
        "pages": inputs.n_pages,
        "mentions": len(rows),
        "nodes": len({r["norm_key"] for r in rows}),
        "entities": len(set(pred.values())),
        "pairwise_f1": f1,
        "bcubed_f1": b3,
        "output_bytes": dir_bytes(state),
    }
    return seconds, facts


# -- reporting -----------------------------------------------------------------

def layer_metrics(spans: dict, walls: dict, facts: dict, nproc: int,
                  op_s: float, eventlog_bytes: int) -> dict:
    values: dict[str, float] = {"trace.op_s": op_s,
                                "trace.eventlog_bytes": eventlog_bytes}
    for span in SPANS:
        acc = spans.get(span, {})
        wall = walls.get(span, 0.0)
        values[f"{span}.wall_s"] = wall
        for f in eventlog.TASK_FIELDS:
            values[f"{span}.{f}"] = acc.get(f, 0)
        values[f"{span}.core_util"] = (acc.get("task_run_s", 0) / (wall * nproc)
                                       if wall else 0.0)
    # a span's own counts come from the facts of the workload that ran it
    for span, extras in SPAN_EXTRAS.items():
        for name, _unit in extras:
            values[f"{span}.{name}"] = facts.get(name, 0) if span in walls else 0
    pairs = values["s2_block.candidate_pairs"]
    edges = values["s3_score.match_edges"]
    s3 = walls.get("s3_score", 0.0)
    values.update({
        "s3_score.match_ratio": edges / pairs if pairs else 0.0,
        "s3_score.pairs_per_s": pairs / s3 if s3 else 0.0,
        "ingest_batch.state_bytes_written":
            facts["output_bytes"] if "ingest_batch" in walls else 0,
    })
    return {name: {"value": values[name], "unit": unit}
            for name, unit in per_layer_names()}


def run_workload(w: W.Workload, seed: int, seconds: float, trace: bool,
                 smoke: bool) -> tuple[dict, dict]:
    work = os.path.join(ROOT, ".perfbench_run", f"{w.name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    try:
        return _run_in(work, w, seed, seconds, trace, smoke)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))


def _run_in(work: str, w: W.Workload, seed: int, seconds: float, trace: bool,
            smoke: bool) -> tuple[dict, dict]:
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"
    os.environ["TMPDIR"] = tempfile.tempdir = f"{work}/tmp"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    inputs = W.write_inputs(w, seed, work)
    spark, nproc = start_session(work, trace)
    try:
        if smoke:
            W.compare_with_synth_pages(spark)
        setup_s = process_age_s()
        tracer = Tracer(spark.sparkContext, trace)
        ops: list[dict] = []
        failed = 0
        t_run = time.perf_counter()
        # a traced run folds one operation's event log
        while not ops or (not trace and time.perf_counter() - t_run < seconds):
            i = len(ops)
            try:
                if w.kind == "link":
                    op_s, facts = link_op(spark, inputs, f"{work}/entities{i}",
                                          tracer, trace)
                else:
                    op_s, facts = ingest_op(spark, inputs, f"{work}/state{i}", tracer)
                bad = W.check(w, seed, not smoke, facts)
            except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
                traceback.print_exc()
                op_s, facts, bad = None, {}, ["raised"]
            if bad:
                print(f"check failed on op {i}: {bad} {facts}", file=sys.stderr)
                failed += 1
            ops.append({"op_s": op_s, "failed_checks": bad, **facts})
            if op_s is None:
                break
        rss = peak_rss_mb(descendants(os.getpid()))
        sc = spark.sparkContext
        info = {"workload": w.name, "seed": seed, "nproc": nproc,
                "spark": spark.version,
                "java": sc._jvm.java.lang.System.getProperty("java.version"),
                "trace": int(trace), "smoke": smoke, "ops": ops}
    finally:
        stop_session(spark)
    first = ops[0]
    result = {"correct": failed == 0, "attempted": len(ops), "failed": failed}
    if first["op_s"] is None:
        result["metrics"] = {}
    elif trace:
        log = os.path.join(f"{work}/eventlog", os.listdir(f"{work}/eventlog")[0])
        spans = eventlog.fold_file(log)
        info["spans"] = spans
        result["metrics"] = layer_metrics(spans, tracer.walls, first, nproc,
                                          first["op_s"], os.path.getsize(log))
    else:
        values = {"job_s": first["op_s"], "setup_s": setup_s, "peak_rss_mb": rss,
                  "output_mb": first["output_bytes"] / 2**20,
                  "pairwise_f1": first["pairwise_f1"],
                  "bcubed_f1": first["bcubed_f1"]}
        result["metrics"] = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
    return result, info


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=sorted(W.WORKLOADS))
    p.add_argument("--seed", type=int, default=W.DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=1.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="run every workload at a very small size, traced")
    args = p.parse_args(argv)
    if not args.smoke and args.workload is None:
        p.error("--workload is required unless --smoke is given")
    sys.path.insert(0, ROOT)
    try:
        import ai_bangladesh_address_parser_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable: {exc}", file=sys.stderr)
        return 2

    if args.smoke:
        ok = True
        for w in W.WORKLOADS.values():
            result, info = run_workload(W.smoke_sized(w), args.seed, 0, True, True)
            spans = {k: v["jobs"] for k, v in info.get("spans", {}).items()}
            print(json.dumps({"workload": w.name, "correct": result["correct"],
                              "jobs_per_span": spans}))
            ok = ok and result["correct"] and len(result["metrics"]) > 0
        return 0 if ok else 1

    result, info = run_workload(W.WORKLOADS[args.workload], args.seed,
                                args.seconds, bool(args.trace), False)
    print("# info " + json.dumps(info, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
