"""End-to-end KG-construction pipeline tests (north_rule contract):
extraction quality, per-turn text invariant, resume-from-checkpoint,
determinism, lineage metrics."""

import os

import pytest
from pyspark.sql import functions as F

from prom_spark.datagen import entity_dictionary, synth_transcripts
from prom_spark.pipeline.kg import build_kg


@pytest.fixture(scope="module")
def kg(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("kg"))
    tr = synth_transcripts(spark, n_convs=60, turns_per_conv=6).cache()
    d = entity_dictionary(spark, 48).cache()
    res = build_kg(spark, tr, d, base, resume=False)
    return tr, d, res, base


def _ground_truth(tr, d, entity_map):
    pat = r"the (.+) (uses|feeds|precedes|controls) the (.+) in this step"
    gt = tr.select(
        "conv_id", "turn_idx",
        F.regexp_extract("text", pat, 1).alias("s_alias"),
        F.regexp_extract("text", pat, 2).alias("pred"),
        F.regexp_extract("text", pat, 3).alias("o_alias"),
    )
    dm = d.select("alias", "entity_id")
    return (
        gt.join(dm.withColumnRenamed("alias", "s_alias").withColumnRenamed("entity_id", "s_eid"), "s_alias")
        .join(dm.withColumnRenamed("alias", "o_alias").withColumnRenamed("entity_id", "o_eid"), "o_alias")
        .join(entity_map.withColumnRenamed("entity_id", "s_eid").withColumnRenamed("canonical_id", "subj"), "s_eid")
        .join(entity_map.withColumnRenamed("entity_id", "o_eid").withColumnRenamed("canonical_id", "obj"), "o_eid")
        .select("conv_id", "turn_idx", "subj", "pred", "obj")
        .distinct()
    )


def test_triple_quality(spark, kg):
    tr, d, res, _ = kg
    got = (
        res.triples.filter(~F.col("pred").isin("follows", "co_occurs"))
        .select("conv_id", "turn_idx", "subj", "pred", "obj")
        .distinct()
    )
    want = _ground_truth(tr, d, res.entity_canonical)
    inter = got.join(want, on=["conv_id", "turn_idx", "subj", "pred", "obj"]).count()
    p = inter / got.count()
    r = inter / want.count()
    assert p >= 0.95, (p, r)
    assert r >= 0.95, (p, r)


def test_per_turn_text_invariant(spark, kg):
    """input_hint invariant: the ingest checkpoint must preserve per-turn
    text exactly under stable (conv_id, turn_idx) keys."""
    tr, _, res, _ = kg
    ingest = res.store.read("ingest")
    diff = (
        tr.select("conv_id", "turn_idx", "text")
        .exceptAll(ingest.select("conv_id", "turn_idx", "text"))
        .count()
    )
    assert diff == 0
    # stable dense ordering: per conv, turn_idx covers 0..n-1
    agg = ingest.groupBy("conv_id").agg(
        F.count("*").alias("n"), F.max("turn_idx").alias("mx"), F.countDistinct("turn_idx").alias("d")
    )
    assert agg.filter((F.col("mx") != F.col("n") - 1) | (F.col("d") != F.col("n"))).count() == 0


def test_resume_reuses_checkpoints_and_is_identical(spark, kg):
    tr, d, res, base = kg
    # resume run must not recompute: poison the input to prove stages load
    # from checkpoints
    poisoned = tr.withColumn("text", F.lit("POISON"))
    res2 = build_kg(spark, poisoned, d, base, resume=True)
    t1 = {tuple(r) for r in res.triples.collect()}
    t2 = {tuple(r) for r in res2.triples.collect()}
    assert t1 == t2 and len(t1) > 0


def test_resume_after_midrun_kill(spark, kg, tmp_path):
    """SURVEY §5 resumability: kill after stage k, resume, identical
    output. Simulates two kill points against a COPY of the checkpoint
    store: (a) killed between stages — the downstream stage dirs are
    gone entirely; (b) killed mid-write — a stage left partial data but
    no metrics.json (written only after the data write completes, so
    its absence marks the stage incomplete). Both resumes run with
    POISONED transcripts, proving recovery reads only the surviving
    checkpoints, never the raw input."""
    import shutil

    tr, d, res, base = kg
    poisoned = tr.withColumn("text", F.lit("POISON"))
    t1 = {tuple(r) for r in res.triples.collect()}

    # (a) killed between candidates and triple extraction
    base_a = str(tmp_path / "kill_between")
    shutil.copytree(base, base_a)
    for stage in ("triples_raw", "triples"):
        shutil.rmtree(os.path.join(base_a, stage))
    res_a = build_kg(spark, poisoned, d, base_a, resume=True)
    assert {tuple(r) for r in res_a.triples.collect()} == t1

    # (b) killed mid-write: partial data present, metrics.json missing
    base_b = str(tmp_path / "kill_mid_write")
    shutil.copytree(base, base_b)
    os.remove(os.path.join(base_b, "triples_raw", "metrics.json"))
    data_dir = os.path.join(base_b, "triples_raw", "data")
    victim = sorted(
        f for f in os.listdir(data_dir) if not f.startswith("_")
    )[0]
    victim_path = os.path.join(data_dir, victim)
    (shutil.rmtree if os.path.isdir(victim_path) else os.remove)(victim_path)
    res_b = build_kg(spark, poisoned, d, base_b, resume=True)
    assert {tuple(r) for r in res_b.triples.collect()} == t1


def test_determinism_fresh_dir(spark, kg, tmp_path):
    tr, d, res, _ = kg
    res2 = build_kg(spark, tr, d, str(tmp_path / "kg2"), resume=False)
    t1 = {tuple(r) for r in res.triples.collect()}
    t2 = {tuple(r) for r in res2.triples.collect()}
    assert t1 == t2


def test_metrics_lineage(spark, kg):
    _, _, res, base = kg
    for stage in ["ingest", "grams", "fuzzy_scores", "candidates", "triples_raw", "entity_map", "triples"]:
        assert res.store.exists(stage), stage
        m = res.store.metrics(stage)
        assert m["rows"] > 0
        assert sum(p["rows"] for p in m["partitions"]) == m["rows"]
    assert "triples_raw" in res.store.metrics("triples")["inputs"]


def test_canonicalization_merges_duplicates(spark, kg):
    _, d, res, _ = kg
    merged = res.entity_canonical.filter("entity_id != canonical_id").count()
    assert merged > 0  # datagen plants duplicate entities every 8th id
    # canonical ids must be cluster minima present in the dictionary
    ids = {r.entity_id for r in d.select("entity_id").distinct().collect()}
    for r in res.entity_canonical.collect():
        assert r.canonical_id in ids
        assert r.canonical_id <= r.entity_id


def test_detect_matching_mentions_equals_semi_join(spark):
    """The in-array membership plan (detect_matching_mentions) must emit
    exactly the rows of detect_mentions + left-semi join on the same key
    set — including multiword keys, stop-gram keys (always dropped: the
    stream path filters them before the join), and absent keys."""
    from prom_spark.pipeline.mentions import (
        STOP_GRAMS,
        detect_matching_mentions,
        detect_mentions,
    )

    tr = synth_transcripts(spark, n_convs=30, turns_per_conv=4, n_entities=32)
    tr = tr.withColumn(
        "text",
        F.when(F.col("turn_idx") == 0, F.lit("")).otherwise(F.col("text")),
    )
    # real aliases from the corpus vocabulary + a bigram that occurs +
    # a stop gram + keys that match nothing
    some = [
        r.gram
        for r in detect_mentions(tr).groupBy("gram").count()
        .orderBy(F.desc("count")).limit(12).collect()
    ]
    bigram = next((g for g in some if " " in g), None)
    keys = some + [STOP_GRAMS[0], "zz-never-present", "zz never present"]
    if bigram is None:
        first = some[0]
        bigram_df = detect_mentions(tr).filter(F.col("gram").contains(" "))
        bg = bigram_df.limit(1).collect()
        if bg:
            keys.append(bg[0].gram)
    semi = detect_mentions(tr).join(
        spark.createDataFrame([(k,) for k in keys], ["gram"]),
        on="gram",
        how="left_semi",
    )
    cols = ["conv_id", "turn_idx", "gram", "start", "end"]
    a = {tuple(r) for r in semi.select(*cols).collect()}
    b = {tuple(r) for r in detect_matching_mentions(tr, keys).select(*cols).collect()}
    assert a == b and len(a) > 0
    # empty keyset / no-bigram-keys edges
    assert detect_matching_mentions(tr, ["zz-never-present"]).count() == 0
    assert detect_matching_mentions(tr, []).count() == 0


def test_inline_keyset_gate_matches_semi_join_pipeline(spark, tmp_path):
    """build_kg with the inline keyset plan disabled (limit 0) must emit
    the identical triple set — the three candidate plans are
    interchangeable by construction."""
    import dataclasses

    from prom_spark.config import DEFAULT_CONFIG
    from prom_spark.datagen import entity_dictionary, synth_transcripts
    from prom_spark.pipeline.kg import build_kg

    tr = synth_transcripts(spark, n_convs=25, turns_per_conv=4, n_entities=24)
    d = entity_dictionary(spark, 24)
    res_inline = build_kg(spark, tr, d, str(tmp_path / "a"), resume=False)
    no_inline = dataclasses.replace(DEFAULT_CONFIG, inline_keyset_limit=0)
    res_semi = build_kg(spark, tr, d, str(tmp_path / "b"), resume=False, cfg=no_inline)
    cols = ["conv_id", "turn_idx", "subj", "pred", "obj"]
    a = {tuple(r) for r in res_inline.triples.select(*cols).collect()}
    b = {tuple(r) for r in res_semi.triples.select(*cols).collect()}
    assert a == b and len(a) > 0


def test_distinct_grams_equals_mention_stream_distinct(spark):
    """distinct_grams (strings-only, per-turn pre-dedup) must equal
    detect_mentions(...).select('gram').distinct() exactly — same
    stop-gram filter, same first-token bigram blocking, empty turns. An
    empty turn (text='') emits no mention row and does not break the
    detector for the turns around it."""
    from prom_spark.pipeline.mentions import detect_mentions, distinct_grams

    tr = synth_transcripts(spark, n_convs=30, turns_per_conv=4, n_entities=32)
    tr = tr.withColumn(
        "text",
        F.when(F.col("turn_idx") == 0, F.lit("")).otherwise(F.col("text")),
    )
    for ft in (None, ["the", "conveyor", "zz-nope"]):
        m = detect_mentions(tr, bigram_first_tokens=ft)
        a = {r.gram for r in m.select("gram").distinct().collect()}
        b = {r.gram for r in distinct_grams(tr, bigram_first_tokens=ft).collect()}
        assert a == b and len(a) > 0, (ft, len(a), len(b))
        turns = {r.turn_idx for r in m.select("turn_idx").distinct().collect()}
        assert turns == {1, 2, 3}, turns


def test_detect_matching_mentions_predicates(spark):
    """predicates= fuses predicate-occurrence detection into the same
    scan: kind='m' rows equal the predicate-less output, kind='p' rows
    equal a direct isin() probe of the token arrays (NO stop-gram filter
    — extract_triples semantics), and a gram that is both alias and
    predicate emits both rows."""
    from prom_spark.pipeline.mentions import (
        STOP_GRAMS,
        detect_matching_mentions,
        detect_predicates,
        tokens,
    )

    tr = synth_transcripts(spark, n_convs=30, turns_per_conv=4, n_entities=32)
    keys = [
        r.gram
        for r in detect_matching_mentions(tr, ["conveyor", "robot", "sensor"])
        .select("gram").distinct().collect()
    ] or ["conveyor"]
    # 'uses' occurs in every synth turn; STOP_GRAMS[0] ('the') does too
    preds = ["uses", STOP_GRAMS[0], keys[0]]
    out = detect_matching_mentions(tr, keys, predicates=preds)
    cols = ["conv_id", "turn_idx", "gram", "start", "end"]
    m = {tuple(r) for r in out.filter("kind = 'm'").select(*cols).collect()}
    base = {
        tuple(r)
        for r in detect_matching_mentions(tr, keys).select(*cols).collect()
    }
    assert m == base and len(m) > 0
    p = {tuple(r) for r in out.filter("kind = 'p'").select(*cols).collect()}
    direct = {
        tuple(r)
        for r in tr.withColumn("_toks", tokens(F.col("text")))
        .select(
            "conv_id",
            "turn_idx",
            F.posexplode("_toks").alias("pos", "tok"),
        )
        .filter(F.col("tok").isin(*preds))
        .select("conv_id", "turn_idx", "tok", "pos", "pos")
        .collect()
    }
    assert p == direct and len(p) > 0
    # the stop-gram predicate must be present (no stop filter on 'p')
    assert any(g == STOP_GRAMS[0] for (_, _, g, _, _) in p)
    # alias-and-predicate gram: both kinds at the same position
    both = out.filter(F.col("gram") == keys[0])
    kinds = {r.kind for r in both.select("kind").distinct().collect()}
    assert kinds == {"m", "p"}
    # standalone scan (explode-plan union input) emits the same 'p' rows
    alt = {
        tuple(r)
        for r in detect_predicates(tr, preds).select(*cols).collect()
    }
    assert alt == p


def _scored_candidates(tr, d, cfg=None, use_salting=False):
    """The shared linking plan up to the scored candidate stream:
    (candidates, scored 'm' rows), built the way the streaming
    micro-batches and q25 build it (no bigram pruning)."""
    from prom_spark.config import DEFAULT_CONFIG
    from prom_spark.pipeline.kg import (
        _fuzzy_scores,
        _score_candidates,
        candidate_plan,
        dictionary_regime,
    )
    from prom_spark.pipeline.mentions import distinct_grams

    cfg = cfg or DEFAULT_CONFIG
    dict_slim = d.select("alias", "entity_id", "embedding")
    use_salting, n_dict = dictionary_regime(dict_slim, cfg, use_salting)
    fuzzy = _fuzzy_scores(
        distinct_grams(tr), dict_slim, cfg,
        broadcast_dict=n_dict <= cfg.dict_broadcast_limit,
    ).localCheckpoint(eager=True)
    cands = candidate_plan(tr, dict_slim, fuzzy, n_dict, cfg).localCheckpoint(
        eager=True
    )
    scored = _score_candidates(
        cands.filter(F.col("kind") == "m").drop("kind"), dict_slim, fuzzy, cfg,
        use_salting=use_salting,
    )
    return cands, scored


def _flat_links(scored, emap=None):
    """Per-span selection of the scored stream as q25 does it
    (best_candidate_per_left_agg), optionally mapped to canonical ids."""
    from prom_spark.config import DEFAULT_CONFIG
    from prom_spark.operators.selection import best_candidate_per_left_agg

    flat = best_candidate_per_left_agg(
        scored,
        key_cols=["conv_id", "turn_idx", "start", "end"],
        payload_cols=["entity_id", "gram"],
        threshold=DEFAULT_CONFIG.link_threshold,
    )
    if emap is None:
        return flat
    return (
        flat.join(F.broadcast(emap), on="entity_id", how="left")
        .withColumn("entity_id", F.coalesce("canonical_id", "entity_id"))
        .drop("canonical_id")
    )


def _python_triples(turns):
    """Plain-Python triple extraction, the reference for extract_triples.

    ``turns``: {(conv_id, turn_idx): (tokens, [(start, end, entity_id)])}
    with one linked entity per span. Emits the `<subj> <pred> [the]
    <obj>` adjacency triples (subject span ends right before the
    predicate token, object span starts one or two tokens after it),
    ordered co_occurs pairs of the turn's distinct entities, and
    `follows` from each turn's subject (its earliest span) to the
    previous linked turn's subject in the same conversation."""
    from prom_spark.datagen import PREDICATES

    out = set()
    prev = {}
    for (conv, turn), (toks, ents) in sorted(turns.items()):
        if not ents:
            continue
        for p, tok in enumerate(toks):
            if tok not in PREDICATES:
                continue
            for _, s_end, s in ents:
                if s_end != p - 1:
                    continue
                for o_start, _, o in ents:
                    if o_start in (p + 1, p + 2):
                        out.add((conv, turn, s, tok, o))
        ids = sorted({e for _, _, e in ents})
        for i, x in enumerate(ids):
            for y in ids[i + 1:]:
                out.add((conv, turn, x, "co_occurs", y))
        subj = min(ents)[2]
        if conv in prev:
            out.add((conv, turn, subj, "follows", prev[conv]))
        prev[conv] = subj
    return out


def test_fused_triples_equal_unfused_extraction(spark, kg):
    """build_kg's single-exchange triples stage (scoring, in-array
    per-span selection, extraction and the `follows` window in one plan)
    must emit exactly the triples a plain-Python extractor derives from
    the turn tokens and the flat per-span links (q25's selection) of the
    same checkpointed candidates and fuzzy scores."""
    from prom_spark.datagen import PREDICATES
    from prom_spark.pipeline.kg import _score_candidates
    from prom_spark.pipeline.mentions import _TOKEN

    tr, d, res, _ = kg
    scored = _score_candidates(
        res.store.read("candidates").filter(F.col("kind") == "m").drop("kind"),
        d.select("alias", "entity_id", "embedding"),
        res.store.read("fuzzy_scores"),
        use_salting=False,
    )
    turns = {
        (r.conv_id, r.turn_idx): (_TOKEN.findall(r.text.lower()), [])
        for r in tr.collect()
    }
    for r in _flat_links(scored, res.entity_canonical).collect():
        turns[(r.conv_id, r.turn_idx)][1].append((r.start, r.end, r.entity_id))
    want = _python_triples(turns)
    got = {
        tuple(r)
        for r in res.triples.select(
            "conv_id", "turn_idx", "subj", "pred", "obj"
        ).collect()
    }
    assert got == want and len(want) > 0
    assert {p for *_, p, _ in want} == set(PREDICATES) | {"co_occurs", "follows"}


def test_per_turn_linking_equals_flat_linking(spark):
    """Over ONE scored candidate stream, the two selections in the code
    make the same per-span choices after canonical mapping:
    best_candidate_per_left_agg (q25's flat rows) and _per_turn_select
    (the in-array keep-first the triples plan uses)."""
    from prom_spark.pipeline.kg import _per_turn_select, canonicalize_entities

    tr = synth_transcripts(spark, n_convs=40, turns_per_conv=5, n_entities=48)
    d = entity_dictionary(spark, 48).cache()
    emap = canonicalize_entities(d).cache()
    cands, scored = _scored_candidates(tr, d)

    flat = {
        (r.conv_id, r.turn_idx, r.start, r.end, r.entity_id)
        for r in _flat_links(scored, emap).collect()
    }
    fused = {
        (r.conv_id, r.turn_idx, r.e.ts, r.e.te, r.e.entity_id)
        for r in _per_turn_select(
            scored, cands.filter(F.col("kind") == "p"), emap
        )
        .select("conv_id", "turn_idx", F.explode("ents").alias("e"))
        .collect()
    }
    assert fused == flat and len(fused) > 0


def test_salted_paths_equal_broadcast_paths(spark):
    """The beyond-broadcast join designs of the shared linking plan
    (salted exact join, salted alias semi-reduction, replicated-fragment
    fuzzy join) must produce exactly the broadcast paths' links when
    forced on small data."""
    import dataclasses

    from prom_spark.config import DEFAULT_CONFIG
    from prom_spark.pipeline.kg import _fuzzy_scores
    from prom_spark.pipeline.mentions import detect_mentions

    tr = synth_transcripts(spark, n_convs=30, turns_per_conv=4, n_entities=32)
    d = entity_dictionary(spark, 32).cache()

    def links(**kw):
        return {
            tuple(r)
            for r in _flat_links(_scored_candidates(tr, d, **kw)[1])
            .select("conv_id", "turn_idx", "start", "end", "entity_id")
            .collect()
        }

    base = links(use_salting=False)
    assert links(use_salting=True) == base
    # force the every-broadcast-budget-exceeded regime: alias semi-join
    # salts, fuzzy join goes replicated-fragment
    tiny = dataclasses.replace(
        DEFAULT_CONFIG, dict_broadcast_limit=0, alias_broadcast_limit=0
    )
    assert links(cfg=tiny, use_salting=True) == base and len(base) > 0

    # the replicated-fragment fuzzy join must not plan a broadcast of the
    # embedding-carrying dictionary (the exact inconsistency the salted
    # path exists to avoid). Near-miss grams (one char off an alias) +
    # a low threshold make the fuzzy output deterministically non-empty.
    m = detect_mentions(tr)
    dict_slim = d.select("alias", "entity_id", "embedding")
    near_miss = d.select(
        F.concat(F.substring("alias", 1, F.length("alias") - 1), F.lit("x")).alias("gram")
    ).distinct()
    grams = m.select("gram").distinct().unionByName(near_miss).distinct()
    lo = dataclasses.replace(DEFAULT_CONFIG, link_threshold=0.2)
    fz = _fuzzy_scores(grams, dict_slim, lo, broadcast_dict=False)
    plan = fz._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in plan, plan
    fz_b = _fuzzy_scores(grams, dict_slim, lo, broadcast_dict=True)
    got = {tuple(r) for r in fz.collect()}
    assert got == {tuple(r) for r in fz_b.collect()} and len(got) > 0


def test_bucket_layout_balanced(spark):
    """_bucket_layout must (a) route every row to its published bucket
    directory, (b) engage the composite sub-split when buckets ~ cores
    AND the data is large enough per bucket, so no shuffle partition
    holds more than ~2 buckets' share of rows, (c) keep the sub-split a
    pure layout concern (no schema change), and (d) stay split=1 when
    the row count is unknown or under the per-bucket gate (tiny inputs
    must not pay k× per-file overhead — the sf0.1 flagship regression)."""
    from prom_spark.pipeline.kg import _bucket_layout

    df = spark.range(20_000).select(
        F.concat(F.lit("c"), (F.col("id") % 997).cast("string")).alias("conv_id"),
        F.col("id").alias("turn_idx"),
    )
    n_rows = df.count()
    out = _bucket_layout(df, 32, n_rows=n_rows, min_bucket_rows=100)
    assert out.columns == ["conv_id", "turn_idx", "bucket"]
    # bucket is the published hash(conv_id) bucket, unchanged by the split
    exp = df.withColumn(
        "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(32)).cast("int")
    )
    assert (
        out.exceptAll(exp).isEmpty() and exp.exceptAll(out).isEmpty()
    )
    # shuffle-partition balance: max partition load bounded well below the
    # 2-3-buckets-per-task straggler the plain repartition(32, bucket)
    # layout produces (here cores=4 -> split=1 would be legal, so force
    # the composite regime by asking for fewer buckets than 8*cores; the
    # row-count gate is satisfied explicitly)
    small = _bucket_layout(df, 4, n_rows=n_rows, min_bucket_rows=1000)
    sizes = small.rdd.glom().map(len).collect()
    assert max(sizes) < 0.40 * n_rows  # plain hash-on-4-values can hit 0.5+
    assert sum(sizes) == n_rows
    # data gate: unknown row count, or rows-per-bucket under the gate,
    # keeps the plain one-partition-per-bucket layout
    assert _bucket_layout(df, 4).rdd.getNumPartitions() == 4
    assert (
        _bucket_layout(df, 4, n_rows=n_rows, min_bucket_rows=50_000)
        .rdd.getNumPartitions()
        == 4
    )
    # keep_sub with split=1 must not leave a _sub column behind
    assert "_sub" not in _bucket_layout(df, 4, keep_sub=True).columns


def test_fuzzy_rejoin_salted_path(spark):
    """Beyond the broadcast budget the fuzzy score re-join must route
    through the salted shuffle (same design as the exact join) — plan
    carries the composite (gram, _salt) key — and emit exactly the
    broadcast path's rows."""
    import dataclasses

    from prom_spark.config import DEFAULT_CONFIG
    from prom_spark.datagen import entity_dictionary, synth_transcripts
    from prom_spark.pipeline.kg import _fuzzy_rejoin, _fuzzy_scores, build_kg
    from prom_spark.pipeline.mentions import detect_mentions

    tr = synth_transcripts(spark, n_convs=30, turns_per_conv=4, n_entities=32)
    d = entity_dictionary(spark, 32).cache()
    m = detect_mentions(tr)
    dict_slim = d.select("alias", "entity_id", "embedding")
    lo = dataclasses.replace(DEFAULT_CONFIG, link_threshold=0.2)
    # near-miss grams guarantee non-empty fuzzy scores
    near_miss = d.select(
        F.concat(F.substring("alias", 1, F.length("alias") - 1), F.lit("x")).alias("gram")
    ).distinct()
    occ = m.unionByName(
        near_miss.select(
            F.lit("cx").alias("conv_id"), F.lit(0).alias("turn_idx"),
            "gram", F.lit(0).alias("start"), F.lit(0).alias("end"),
        )
    )
    fscores = _fuzzy_scores(
        occ.select("gram").distinct(), dict_slim, lo
    ).localCheckpoint(eager=True)
    assert fscores.count() > 0
    bc = {tuple(r) for r in _fuzzy_rejoin(occ, fscores, lo, broadcast=True).collect()}
    salted = _fuzzy_rejoin(occ, fscores, lo, broadcast=False)
    assert {tuple(r) for r in salted.collect()} == bc and len(bc) > 0
    plan = salted._jdf.queryExecution().optimizedPlan().toString()
    assert "_salt" in plan, plan

    # end-to-end: forcing every broadcast budget to zero (salted exact
    # join, salted semi-reduction, replicated-fragment fuzzy scoring,
    # salted fuzzy re-join via fuzzy_rows > 0 = dict_broadcast_limit)
    # must reproduce the default build's triples exactly
    import tempfile

    tiny = dataclasses.replace(
        DEFAULT_CONFIG, dict_broadcast_limit=0, alias_broadcast_limit=0,
        inline_keyset_limit=0,
    )
    tr2 = synth_transcripts(spark, n_convs=25, turns_per_conv=4, n_entities=24)
    d2 = entity_dictionary(spark, 24)
    tcols = ["conv_id", "turn_idx", "subj", "pred", "obj"]
    base = {
        tuple(r)
        for r in build_kg(
            spark, tr2, d2, tempfile.mkdtemp(prefix="kg_fz_a_"), resume=False
        ).triples.select(*tcols).collect()
    }
    forced = {
        tuple(r)
        for r in build_kg(
            spark, tr2, d2, tempfile.mkdtemp(prefix="kg_fz_b_"),
            resume=False, cfg=tiny, use_salting=True,
        ).triples.select(*tcols).collect()
    }
    assert forced == base and len(base) > 0


def test_checkpoint_staleness_invalidation(spark, tmp_path):
    """get_or_compute must recompute (not reuse) a checkpoint whose
    recorded inputs differ or whose schema misses required columns, and
    must reuse without calling compute when both match."""
    from prom_spark.sinks import StageStore

    store = StageStore(spark, str(tmp_path))
    calls = {"n": 0}

    def make(cols="a int, b string", row=(1, "x")):
        def _compute():
            calls["n"] += 1
            return spark.createDataFrame([row], cols)
        return _compute

    store.get_or_compute("s", make(), resume=True, inputs=["u1"])
    assert calls["n"] == 1
    # valid: same inputs, required col present -> no recompute
    store.get_or_compute("s", make(), resume=True, inputs=["u1"], require_cols=["b"])
    assert calls["n"] == 1
    # inputs changed (e.g. a plan-gate tag) -> recompute
    store.get_or_compute("s", make(), resume=True, inputs=["u1", "gate:x"])
    assert calls["n"] == 2
    # required column missing from the stored schema -> recompute
    store.get_or_compute(
        "s", make("a int, b string, kind string", (1, "x", "m")), resume=True,
        inputs=["u1", "gate:x"], require_cols=["kind"],
    )
    assert calls["n"] == 3
    assert "kind" in store.read("s").columns
    # and now valid again
    store.get_or_compute(
        "s", make(), resume=True, inputs=["u1", "gate:x"], require_cols=["kind"]
    )
    assert calls["n"] == 3


def test_q25_linking_matches_duckdb_oracle(spark, sf_dir):
    """q25 — the shared candidate plan and scoring joins under a flat
    per-span selection — must return exactly the rows of its DuckDB
    twin over the sf0.001 testdata tables (the independent reference for
    the linking plan's scores and choices)."""
    import sys

    import duckdb

    import prom_spark.queries as Q

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))
    from parity_check import TABLES, canon

    def rows(cols, rs):
        order = sorted(range(len(cols)), key=cols.__getitem__)
        return sorted(tuple(canon(r[i]) for i in order) for r in rs)

    sdf = Q.q25_entity_linking(spark, sf_dir)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    res = con.execute(Q.oracle_sql()["q25_entity_linking"])
    d_cols = [c[0] for c in res.description]
    assert sorted(sdf.columns) == sorted(d_cols)
    got = rows(sdf.columns, sdf.collect())
    want = rows(d_cols, res.fetchall())
    assert got == want and len(got) > 0
