"""Static physical-plan shape gates — the engine's one plan-gate system.

Planning only (AQE off around the explain; nothing executes but the
eager sub-steps a query function runs itself). They pin the load-bearing
plan properties so a refactor cannot silently re-introduce the costs the
plan work removed, e.g. the fused triple-extraction stage must plan
exactly ONE exchange (the bucketed-layout repartition doubles as the
cross-turn `follows` window's distribution) and NO join back to the
transcripts: at 10^12 turns a second exchange of the largest
intermediate is the single biggest avoidable cost in the pipeline. The
scan, aggregation and broadcast gates plan over the sf0.001 testdata
tables (the ``sf_dir`` fixture).
"""

import io
from contextlib import redirect_stdout

import pytest


def _formatted_plan(spark, df, mode: str = "formatted") -> str:
    # AQE wraps pre-execution plans in AdaptiveSparkPlan and hides node
    # detail until runtime; disable it around the explain only
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain(mode)
        return buf.getvalue()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


def _op_tree(plan: str) -> str:
    # the formatted details section repeats every operator name; shape
    # predicates must look only at the operator tree
    return plan.split("\n\n")[0]


@pytest.fixture()
def linked_shape(spark):
    return spark.createDataFrame(
        [],
        "conv_id string, turn_idx int, "
        "ents array<struct<ts:int,te:int,entity_id:string>>, "
        "preds array<struct<p:int,tok:string>>",
    )


def test_fused_triples_plan_single_exchange(spark, linked_shape):
    """Layout exchange == window distribution: one Exchange, no Join,
    Window present (the `follows` lag). Covers both the sub-split and
    plain layouts — keep_sub must satisfy the window either way."""
    from prom_spark.pipeline.kg import _bucket_layout, extract_triples

    for n_rows, min_rows in ((None, None), (10_000_000, 1)):
        fused = extract_triples(
            _bucket_layout(
                linked_shape, 32, keep_sub=True,
                n_rows=n_rows, min_bucket_rows=min_rows,
            ),
        )
        tree = _op_tree(_formatted_plan(spark, fused))
        assert tree.count("Exchange") == 1, tree
        assert "Join" not in tree, tree
        assert "Window" in tree, tree


def test_link_selection_plan_is_partial_agg(spark, sf_dir):
    """q25's flat entity-link selection over the shared candidate plan
    must plan as a partial aggregation (single shuffle with map-side
    combine), never a window sort; the dictionary joins must broadcast
    in the broadcast regime."""
    from prom_spark.queries import q25_entity_linking

    tree = _op_tree(_formatted_plan(spark, q25_entity_linking(spark, sf_dir)))
    assert "Window" not in tree, tree
    assert "BroadcastHashJoin" in tree, tree
    # partial + final aggregate (a Sort- or HashAggregate pair)
    assert tree.count("Aggregate") >= 2, tree


def test_scan_filter_pushdown_and_column_pruning(spark, sf_dir):
    """A filter on a raw scan reaches the parquet reader and only the
    projected columns are read."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    plan = _formatted_plan(
        spark,
        li.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity"),
    )
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30" in plan
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_comment" not in read_schema


def test_q02_dimension_joins_broadcast(spark, sf_dir):
    """q02's dimension side broadcasts, aggregates partially map-side,
    and runs inside whole-stage codegen spans."""
    from prom_spark.queries import q02_region_revenue

    df = q02_region_revenue(spark, sf_dir)
    tree = _op_tree(_formatted_plan(spark, df))
    assert "BroadcastHashJoin" in tree, tree
    assert "HashAggregate" in tree, tree
    # simple mode marks whole-stage codegen spans as *(n)
    simple = _formatted_plan(spark, df, "simple")
    assert "*(" in simple, simple


def test_q01_two_phase_aggregate_one_exchange(spark, sf_dir):
    """q01's grouped aggregate is partial + final HashAggregate around
    exactly one exchange."""
    from prom_spark.queries import q01_lineitem_agg

    tree = _op_tree(_formatted_plan(spark, q01_lineitem_agg(spark, sf_dir)))
    assert tree.count("HashAggregate") >= 2, tree
    assert tree.count("Exchange") == 1, tree


def test_q31_profile_broadcast(spark, sf_dir):
    """q31's language-profile table broadcasts onto the doc-trigram
    stream (the corpus side never shuffles by trigram) and nothing plans
    a cartesian product."""
    from prom_spark.queries import q31_trigram_langid

    plan = _formatted_plan(spark, q31_trigram_langid(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q32_probes_broadcast_and_per_probe_window(spark, sf_dir):
    """q32's probe signatures and probe embeddings both broadcast, the
    corpus side streams, and the per-probe top-k is a window."""
    from prom_spark.queries import q32_lsh_ann_topk

    plan = _formatted_plan(spark, q32_lsh_ann_topk(spark, sf_dir))
    tree = _op_tree(plan)
    assert tree.count("BroadcastHashJoin") >= 2, tree
    assert "CartesianProduct" not in plan
    assert "Window" in tree, tree


def test_build_kg_triple_stage_single_shuffle(spark):
    """The whole linking+extraction stage — scored candidates (broadcast
    joins), per-turn aggregation, `follows` window, triple explode —
    must plan over exactly ONE shuffle exchange: the bucket-layout
    repartition that `build_kg` threads through the grouping keys, the
    window partition keys and the bucketed write (round-4 fusion: the
    per-turn linked intermediate is never materialized)."""
    from prom_spark.pipeline.kg import triples_plan

    candidates = spark.createDataFrame(
        [], "conv_id string, turn_idx int, gram string, start int, "
        "end int, kind string"
    )
    dict_slim = spark.createDataFrame(
        [], "alias string, entity_id string, embedding array<double>"
    )
    fuzzy = spark.createDataFrame(
        [], "gram string, entity_id string, rating double"
    )
    emap = spark.createDataFrame([], "entity_id string, canonical_id string")

    for n_rows, min_rows in ((None, None), (10_000_000, 1)):
        fused = triples_plan(
            candidates, dict_slim, fuzzy, emap, fuzzy_rows=0,
            layout=dict(n_buckets=32, n_rows=n_rows, min_bucket_rows=min_rows),
        ).drop("_sub")
        tree = _op_tree(_formatted_plan(spark, fused))
        n_shuffles = tree.count("Exchange") - tree.count("BroadcastExchange")
        assert n_shuffles == 1, tree
        assert "SortMergeJoin" not in tree, tree
        assert "Window" in tree, tree


def test_stratified_sample_stream_never_shuffled(spark):
    """The sampling filter must reach the stream through a BROADCAST
    join of the tiny stratum-count table — if the stream side ever
    plans a shuffle Exchange, the operator has regressed to moving the
    corpus to sample it."""
    from prom_spark.operators.sampling import stratified_sample

    df = spark.createDataFrame(
        [(i, "g%d" % (i % 3)) for i in range(100)], "id long, grp string"
    )
    plan = _op_tree(_formatted_plan(spark, stratified_sample(df, ["grp"], "id", cap=5)))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # exactly ONE shuffle exchange — the tiny count aggregation's; a
    # second one would mean the stream itself is being moved
    import re

    shuffles = [
        ln for ln in plan.splitlines()
        if re.search(r"\bExchange\b", ln) and "BroadcastExchange" not in ln
    ]
    assert len(shuffles) == 1, plan


def test_bloom_probe_is_broadcast(spark):
    """The bit table must broadcast onto the probe stream."""
    from prom_spark.operators.sketch import bloom_bits, bloom_passing_keys

    members = spark.createDataFrame([(i,) for i in range(50)], "k long")
    probes = spark.createDataFrame([(i,) for i in range(500)], "k long")
    out = bloom_passing_keys(bloom_bits(members, "k"), probes, "k")
    plan = _op_tree(_formatted_plan(spark, out))
    assert "BroadcastHashJoin" in plan


def test_simhash_single_explode_single_exchange(spark):
    """The 64-bit SimHash signature plan must stay at ONE Generate (the
    token explode) and ONE Exchange (the per-doc aggregation with
    map-side parity sums). The per-bit row-explosion formulation —
    Generate over sequence(1, 64) multiplying the token stream 64× —
    was a measured 2× regression on q29 and must not come back."""
    from prom_spark.operators.dedup import simhash

    d = spark.createDataFrame(
        [(0, "a b c"), (1, "b c d")], "doc_id long, text string"
    )
    plan = (
        simhash(d, "doc_id", "text", 64)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Generate") == 1, plan
    assert plan.count("Exchange") == 1, plan
    assert "sequence(1" not in plan
