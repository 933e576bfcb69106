"""Physical-plan lints: pin the scale properties the engine is built on.

Correctness tests prove the operators compute the right rows; these
prove the PLANS stay the plans that survive 100x — filters reach the
parquet scan, dimension joins broadcast, expansion guards stay
AQE-exempt, no operator regresses into a cartesian product or a
row-at-a-time Python UDF. Each lint is a property that held when the
matching BENCH.md evidence was recorded; a failure here means a perf
regression that row-level tests cannot see.

Plans are analyzed+optimized but never executed, so the whole module is
cheap (~seconds) and runs over every oracled driver query.
"""
import glob
import io
import os
import re
import sys
from contextlib import redirect_stdout

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402


def plan_str(df, mode: str = "formatted") -> str:
    """Formatted physical plan without executing the query."""
    try:
        return df.sparkSession._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), mode
        )
    except Exception:
        # version-stable fallback: DataFrame.explain prints from Python
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain(mode)
        return buf.getvalue()


def _oracled_queries():
    return sorted(entry_mod.oracle_sql().keys())


@pytest.fixture(scope="module")
def frames(spark, sf_dir):
    qs = entry_mod.queries()
    return {name: qs[name](spark, sf_dir) for name in _oracled_queries()}


@pytest.fixture(scope="module")
def plans(frames):
    return {name: plan_str(df) for name, df in frames.items()}


# --- global lints over every oracled query -------------------------------

def test_no_cartesian_product_anywhere(plans):
    """No oracled query may plan a cartesian or nested-loop join: both
    are O(n*m) scans that a 100x input turns into a dead job. (j4's
    priority-5 containment was the one historic BNL; it is now a
    gram-prefilter equi-join — this pins that rework.)

    Documented exemptions — each a BNL whose BOTH sides are bounded
    by construction, independent of input size:

    * x1_ann_topk IS the exact brute-force baseline — queries x corpus
      by design, planned as a broadcast nested loop that stays narrow
      over the corpus (asserted separately below);
    * p9_pr_curve's cumulative sums are a broadcast range self-join
      over the ≤ n_bins-row checkpointed bin aggregate (≤ n_bins²
      comparisons total) — chosen over an unpartitioned window, which
      warns on every run;
    * e6_funnel's conversion-vs-step-1 is a broadcast of the single
      step-1 count row onto one row per funnel step."""
    offenders = {
        name
        for name, p in plans.items()
        if "CartesianProduct" in p or "BroadcastNestedLoopJoin" in p
    } - {"x1_ann_topk", "p9_pr_curve", "e6_funnel"}
    assert not offenders, f"cartesian/BNL joins in: {sorted(offenders)}"


def test_ann_baseline_is_broadcast_not_shuffle_cartesian(plans):
    """The brute-force ANN baseline must broadcast the (tiny) query
    side and never plan a shuffle cartesian: the scan over the corpus
    is then a narrow map, which is the only shape an exact baseline
    can take at scale."""
    p = plans["x1_ann_topk"]
    assert "BroadcastNestedLoopJoin" in p and "BroadcastExchange" in p
    assert "CartesianProduct" not in p


def test_no_row_at_a_time_python_udf(plans):
    """Python in a plan must be Arrow-batched (ArrowEvalPython /
    MapInPandas / FlatMapGroupsInPandas), never per-row BatchEvalPython
    — the 10-100x serialization cliff the SURVEY design rules out."""
    offenders = [
        name
        for name, p in plans.items()
        if "BatchEvalPython" in p and "ArrowEvalPython" not in p
    ]
    assert not offenders, f"row-at-a-time Python UDF in: {offenders}"


# --- per-query lints -------------------------------------------------------

def test_s1_filters_reach_parquet_scan(plans):
    """S1's contract IS pushdown: the shipdate/quantity filters and the
    4-column projection must reach the parquet reader, not run post-scan
    over full rows."""
    p = plans["s1_scan_pushdown"]
    assert "PushedFilters: [" in p
    pushed = p.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed and "l_quantity" in pushed, pushed
    schema = p.split("ReadSchema: ", 1)[1].splitlines()[0]
    # column pruning: the scan must not read unprojected wide columns
    assert "l_comment" not in schema and "l_extendedprice" not in schema, schema


def test_dim_joins_broadcast(plans):
    """Gazetteer/geo-hierarchy dims are hundreds-to-thousands of rows;
    joining them by shuffle would shuffle the full mention table on a
    key the dim side could ship for free."""
    for name in ("j1_gazetteer_enrich", "j6_full_hierarchy", "t7_district_vocab"):
        p = plans[name]
        assert "BroadcastHashJoin" in p or "BroadcastExchange" in p, (
            f"{name}: dim join is not broadcast"
        )
        assert "SortMergeJoin" not in p, f"{name}: dim join shuffled (SMJ)"


def test_expansion_joins_keep_explicit_width(plans):
    """The AQE coalescing fix (BENCH_HISTORY.md 'AQE high-expansion fix'):
    high-expansion self-joins sit behind an explicit-count repartition
    (REPARTITION_BY_NUM), which AQE may not coalesce down to the tiny
    pre-join byte size.

    The list covers the oracled queries that PERFORM the expansion
    join (p2's salted self-join, d2's shingle equi-join); d3/d4's
    driver queries return band/bit signatures — their pair joins are
    exercised by tests/test_corpus_ops.py."""
    for name in ("p2_candidate_pairs", "d2_ngram_jaccard"):
        assert "REPARTITION_BY_NUM" in plans[name], (
            f"{name}: expansion join lost its explicit-width repartition"
        )


def test_row_transforms_stay_in_codegen(plans):
    """Normalization/script detection are pure column expressions; they
    must compile into whole-stage codegen, not fall out to interpreted
    evaluation or Python."""
    import re

    for name in ("t2_normalize", "t1_script_detect"):
        p = plans[name]
        # formatted mode marks codegen'd nodes with a "* " prefix
        assert re.search(r"(?m)^[\s:+-]*\* \w", p), f"{name}: no codegen span"
        assert "EvalPython" not in p, f"{name}: Python stage in a pure-expression op"


def test_scoring_hot_path_has_no_python_stage(plans):
    """P1's default backend is the JVM levenshtein: the scored-pairs
    plan must contain zero Python eval stages (difflib/jaro are opt-in
    parity backends, not the hot path)."""
    assert "EvalPython" not in plans["p1_score_pairs"]


def test_sessionize_is_single_shuffle(plans):
    """e2's lag→cumsum→groupBy chain must plan exactly ONE Exchange:
    both Window passes sort within the user_id hash partitioning and
    the (user_id, session_seq) groupBy is partitioning-satisfied by its
    user_id prefix. A second exchange here means the shared
    partitioning broke — at 100x that is a full extra shuffle of every
    event."""
    p = plans["e2_sessionize"]
    n = sum(1 for ln in p.splitlines() if ln.strip().startswith("(")
            and "Exchange" in ln)
    assert n == 1, f"e2_sessionize plans {n} exchanges, expected 1:\n{p}"


def test_event_window_keeps_distinct_agg_shape(plans):
    """e1 carries a countDistinct, so its floor is Spark's two-round
    distinct-aggregate plan (partial on (window, type, user) ->
    exchange -> merge -> exchange on (window, type) -> final). Pin <= 2
    exchanges so a regression into a third shuffle (or a lost partial
    aggregation) is caught."""
    p = plans["e1_event_window"]
    n = sum(1 for ln in p.splitlines() if ln.strip().startswith("(")
            and "Exchange" in ln)
    assert n <= 2, f"e1_event_window plans {n} exchanges, expected <=2:\n{p}"


def test_latest_per_key_is_aggregate_not_window(plans):
    """e5's scale claim: latest-per-key is a partial-aggregated max_by
    — one exchange carrying O(keys) rows — NOT the window row_number
    spelling (full-row shuffle + per-key sort). Pin: exactly one
    Exchange, zero Window nodes, and a partial aggregate upstream of
    the exchange."""
    p = plans["e5_latest_per_key"]
    nodes = [ln.strip() for ln in p.splitlines() if ln.strip().startswith("(")]
    assert sum("Exchange" in n for n in nodes) == 1, nodes
    assert not any("Window" in n for n in nodes), nodes
    aggs = [i for i, n in enumerate(nodes) if "Aggregate" in n]
    exch = next(i for i, n in enumerate(nodes) if "Exchange" in n)
    assert any(i < exch for i in aggs), f"no partial agg before exchange: {nodes}"


# --- oracle fetch parity (schema only) -------------------------------------

def test_oracle_integral_columns_fetch_as_integers(frames, sf_dir):
    """The correctness gate fetches each oracle through Arrow, where DuckDB's
    HUGEINT (an uncast ``sum`` of integers) and DECIMAL arrive as
    decimal128 and never hash equal to Spark's integers. Every oracle
    runs in DuckDB on the test tables; its Arrow result schema is
    compared with the Spark query's analyzed schema (Spark runs
    nothing). A decimal column where Spark's is integral fails."""
    import duckdb
    import pyarrow as pa
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    con = duckdb.connect()
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        table = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"create view {table} as select * from '{p}'")
    oracles = entry_mod.oracle_sql()
    offenders = []
    for name, df in frames.items():
        otypes = {f.name: f.type for f in con.execute(oracles[name]).arrow().schema}
        for field in df.schema.fields:
            if (isinstance(field.dataType, (ByteType, ShortType, IntegerType, LongType))
                    and pa.types.is_decimal(otypes.get(field.name, pa.null()))):
                offenders.append(f"{name}.{field.name}: {otypes[field.name]}")
    assert not offenders, f"oracle decimals where Spark is integral: {offenders}"


# --- constant data stays in the JVM -----------------------------------------

def test_constant_frames_plan_as_local_relation(spark, tmp_path):
    """Every frame the package builds from Python constants (the 8
    gazetteer/geo dims, the surface dictionary, the area prefix table,
    the empty edge table) must plan as a JVM LocalRelation: scanning or
    broadcasting it then starts no Python worker."""
    from ai_bangladesh_address_parser_spark.data import gazetteer as gz
    from ai_bangladesh_address_parser_spark.data import geo_hierarchy as gh
    from ai_bangladesh_address_parser_spark.plans.incremental import IncrementalLinker

    frames = {f.__name__: f(spark) for f in (
        gz.district_division_df, gz.district_variants_df, gz.areas_df,
        gz.area_variants_df, gz.postal_codes_df, gz.surface_df, gz.area_prefix_df,
        gh.upazilas_df, gh.unions_df, gh.villages_df)}
    linker = IncrementalLinker(spark, str(tmp_path))
    linker.version = 1  # committed version with no edge table
    frames["empty_edges"] = linker.edges()
    for name, df in frames.items():
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        kinds = {leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())}
        assert kinds == {"LocalRelation"}, f"{name}: plan leaves {kinds}"



# --- S3 keeps the match score out of join conditions -------------------------

def test_score_cuts_hold_no_similarity_in_join_condition(spark, monkeypatch):
    """No frame ``LinkagePlan.score`` cuts lineage on may carry a
    similarity function in a join condition. A filter on ``is_match``
    over the component joins is pushed into the join condition, where
    the 9-component score expression cannot be split across generated
    methods and can trip Janino's 64 KB limit; the score must stay in a
    projection until after a cut. Small hand-built frames: no
    extraction runs."""
    from pyspark.sql.classic.dataframe import DataFrame

    from ai_bangladesh_address_parser_spark.data.gazetteer import local_df
    from ai_bangladesh_address_parser_spark.plans.pipeline import LinkagePlan
    from ai_bangladesh_address_parser_spark.reference_semantics import ALL_COMPONENTS

    nodes = local_df(
        spark,
        [(k, *[c if k[0] == "a" else "9999" for c in ALL_COMPONENTS])
         for k in ("a1", "a2", "b1")],
        ", ".join(["norm_key string"] + [f"{c} string" for c in ALL_COMPONENTS]),
    )
    pairs = local_df(spark, [("a1", "a2"), ("a1", "b1"), ("a2", "b1")],
                     "id_a string, id_b string")
    cut_plans = []
    checkpoint = DataFrame.localCheckpoint

    def recording_checkpoint(df, *args, **kwargs):
        cut_plans.append(df._jdf.queryExecution().optimizedPlan())
        return checkpoint(df, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", recording_checkpoint)
    edges = LinkagePlan(spark).score(pairs, nodes, id_col="norm_key")
    assert {(r.id_a, r.id_b) for r in edges.collect()} == {("a1", "a2")}
    assert cut_plans
    offenders = []
    for plan in cut_plans:
        stack = [plan]
        while stack:
            node = stack.pop()
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
            if node.getClass().getSimpleName() == "Join":
                cond = node.condition().toString()
                if re.search(r"levenshtein|difflib|jaro", cond):
                    offenders.append(cond[:200])
    assert not offenders, offenders
