"""Round-6 operator invariants: BPE encoding over the persisted merge
table (train→apply closure)."""

from __future__ import annotations

import pyspark.sql.functions as F

from redis_dataflow_realtime_analytics_spark.operators import text

from .conftest import SF_SMOKE


def test_bpe_encode_reassembles_words(spark):
    """Concatenating a word's final symbols in spos order reproduces the
    original token exactly — encoding is a partition of the word, never
    a lossy rewrite."""
    enc = text.bpe_encode(spark, SF_SMOKE, n_merges=2, doc_mod=20)
    docs = text.spread(text.load(spark, SF_SMOKE, "documents")).where(
        "doc_id % 20 = 0"
    )
    words = (
        docs.select(
            "doc_id",
            F.posexplode(
                F.split(F.trim(F.lower(F.col("text"))), text.TOKEN_RE)
            ).alias("p0", "w"),
        )
        .where(F.col("w") != "")
        .select("doc_id", (F.col("p0") + 1).alias("wpos"), "w")
    )
    rebuilt = (
        enc.groupBy("doc_id", "wpos")
        .agg(
            F.concat_ws(
                "", F.array_sort(F.collect_list(F.struct("spos", "token"))).token
            ).alias("rw")
        )
    )
    bad = (
        words.join(rebuilt, ["doc_id", "wpos"], "full")
        .where((F.col("w") != F.col("rw")) | F.col("w").isNull() | F.col("rw").isNull())
        .count()
    )
    assert bad == 0


def test_bpe_encode_matches_inline_training_symbolization(spark):
    """The persisted-merge application must be bit-identical to the
    symbolization training itself produces — train and apply share
    _bpe_apply, so any drift is a persistence bug."""
    enc = text.bpe_encode(spark, SF_SMOKE, n_merges=2, doc_mod=20)
    merges = text.bpe_merges(spark, SF_SMOKE, n_merges=2)
    assert merges.count() == 2
    # token ids are dense 1..V over the distinct final symbols
    ids = enc.select("token", "token_id").distinct()
    n = ids.count()
    assert ids.agg(F.min("token_id"), F.max("token_id")).first() == (1, n)


def test_incremental_shard_layout_matches_full_relayout(spark):
    """Composition parity: the append path (persisted bucket state +
    batch-local prefix sum) must reproduce the full batch relayout
    restricted to arrival docs, row for row — prefix sums compose."""
    from redis_dataflow_realtime_analytics_spark.operators import sampling

    inc = sampling.shard_assignment_incremental(spark, SF_SMOKE)
    full = sampling.shard_assignment(spark, SF_SMOKE)
    thr = (
        sampling.load(spark, SF_SMOKE, "documents")
        .agg(F.expr("CAST(max(doc_id) * 9 DIV 10 AS BIGINT)"))
        .first()[0]
    )
    tail = full.where(F.col("doc_id") >= thr)
    assert inc.count() == tail.count() > 0
    assert inc.exceptAll(tail).count() == 0
    assert tail.exceptAll(inc).count() == 0


def test_incremental_shard_layout_never_scans_existing_docs(spark):
    """The arrival plan reads the persisted state artifact, not the
    corpus history: per-batch cost must be O(batch). The only
    documents-parquet scan in the plan carries the watermark filter
    (or feeds the 1-row max aggregate)."""
    from redis_dataflow_realtime_analytics_spark import plans
    from redis_dataflow_realtime_analytics_spark.operators import sampling

    df = sampling.shard_assignment_incremental(spark, SF_SMOKE)
    p = plans.plan_string(df)
    assert "shard_state_" in p, p  # persisted artifact feeds the total


def test_ahash_probe_matches_batch_twin_split(spark):
    """Recall/equality vs the batch twin: the incremental probe must
    return exactly the batch pair set restricted to (incoming,
    existing) pairs — shared banding makes this equality, not just
    recall."""
    from redis_dataflow_realtime_analytics_spark.operators import multimodal

    probe = {
        (r.doc_id, r.match_id, r.hamming)
        for r in multimodal.image_ahash_probe(spark, SF_SMOKE).collect()
    }
    batch = multimodal.image_ahash_pairs(spark, SF_SMOKE).collect()
    expected = set()
    for r in batch:
        a_in, b_in = r.doc_a % 10 == 0, r.doc_b % 10 == 0
        if a_in and not b_in:
            expected.add((r.doc_a, r.doc_b, r.hamming))
        elif b_in and not a_in:
            expected.add((r.doc_b, r.doc_a, r.hamming))
    assert probe == expected
    assert all(d % 10 == 0 and m % 10 != 0 for d, m, _ in probe)


def test_perceptron_learns_the_length_rule(spark):
    """Sanity on the training loop: the final model must beat chance on
    its own training labels (the length rule is nearly linearly
    separable in hashed-count space), and training must actually move
    the weights after round 1 (some doc flips or updates)."""
    from redis_dataflow_realtime_analytics_spark.operators import classifier

    scored = classifier.perceptron_scores(spark, SF_SMOKE, rounds=3)
    rows = scored.collect()
    n = len(rows)
    acc = sum(r.correct for r in rows) / n
    assert n > 0 and acc > 0.6, acc
    one = classifier.perceptron_scores(spark, SF_SMOKE, rounds=1).collect()
    m3 = {r.doc_id: r.margin for r in rows}
    m1 = {r.doc_id: r.margin for r in one}
    assert m1.keys() == m3.keys()
    assert any(m1[d] != m3[d] for d in m1), "rounds 2-3 changed nothing"


def test_stream_shard_assignment_parity_with_batch_incremental(spark):
    """Stream/batch parity: shipments are doc_id-ascending and prefix
    sums compose, so the union over micro-batches must equal the batch
    incremental layout bit-for-bit."""
    from redis_dataflow_realtime_analytics_spark.operators import sampling
    from redis_dataflow_realtime_analytics_spark.streaming import pipeline as sp

    stream = sp.stream_shard_assignment(spark, f"{SF_SMOKE}/documents.parquet")
    batch = sampling.shard_assignment_incremental(spark, SF_SMOKE)
    assert stream.count() == batch.count() > 0
    assert stream.exceptAll(batch).count() == 0
    assert batch.exceptAll(stream).count() == 0


def test_stream_ahash_probe_parity_with_batch_probe(spark):
    """Stateless per-document filter ⇒ the streaming probe must emit
    exactly the batch probe's rows across all shipments."""
    from redis_dataflow_realtime_analytics_spark.operators import multimodal
    from redis_dataflow_realtime_analytics_spark.streaming import pipeline as sp

    stream = sp.stream_image_ahash_probe(spark, f"{SF_SMOKE}/documents.parquet")
    batch = multimodal.image_ahash_probe(spark, SF_SMOKE)
    s = {tuple(r) for r in stream.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b


def test_lpa_communities_refine_connected_components(spark):
    """Every LPA community sits inside one connected component (labels
    only ever propagate along edges), and LPA must produce at least as
    many groups as CC on the same edge set — it refines, never merges
    across components."""
    from redis_dataflow_realtime_analytics_spark.operators import dedup

    lpa = dedup.label_propagation(spark, SF_SMOKE).collect()
    cc = {
        r.doc_id: r.component_id
        for r in dedup.neardup_components(spark, SF_SMOKE).collect()
    }
    by_comm = {}
    for r in lpa:
        by_comm.setdefault(r.community, set()).add(r.doc_id)
    for comm, members in by_comm.items():
        comps = {cc[d] for d in members if d in cc}
        assert len(comps) <= 1, (comm, comps)


def test_pack_bpe_sequences_exact_layout(spark):
    """Packed sequences are a partition of the encoded token stream:
    every sequence except the last is full, positions are dense 0..L-1,
    and the global order (seq_id, pos) matches (doc_id, wpos, spos)."""
    from redis_dataflow_realtime_analytics_spark.operators import sampling

    rows = sampling.pack_bpe_sequences(
        spark, SF_SMOKE, seq_len=64, doc_mod=20
    ).collect()
    n = len(rows)
    assert n > 0
    seqs = {}
    for r in rows:
        seqs.setdefault(r.seq_id, []).append(r.pos)
    last = max(seqs)
    for sid, poss in seqs.items():
        expect = 64 if sid != last else n - 64 * last
        assert sorted(poss) == list(range(expect)), sid


def test_perceptron_model_consistent_with_scores(spark):
    """The exposed model must be exactly the weights the scorer used:
    re-deriving margins from (model × features) reproduces the scored
    margins bit-for-bit."""
    import pyspark.sql.functions as FF

    from redis_dataflow_realtime_analytics_spark.operators import classifier

    w = classifier.perceptron_model(spark, SF_SMOKE, rounds=2)
    xy = classifier._features_with_labels(spark, SF_SMOKE)
    rederived = (
        xy.join(FF.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(FF.sum(FF.col("w") * FF.col("feat")).alias("margin"))
    )
    scored = classifier.perceptron_scores(spark, SF_SMOKE, rounds=2).select(
        "doc_id", "margin"
    )
    assert rederived.exceptAll(scored).count() == 0
    assert scored.exceptAll(rederived).count() == 0


def test_perceptron_scores_without_bias_row(spark):
    """A weight frame with no bias row scores every document with a zero
    bias, instead of crossJoining an empty bias frame into zero rows."""
    from redis_dataflow_realtime_analytics_spark.operators import classifier

    w = classifier.perceptron_model(spark, SF_SMOKE, rounds=2)
    wb = w.where(F.col("bucket") == classifier.BIAS_BUCKET).first()["w"]
    no_bias = w.where(F.col("bucket") != classifier.BIAS_BUCKET)
    counts, stats, y = classifier._sparse_train_inputs(spark, SF_SMOKE)
    with_bias = {
        r.doc_id: r.margin
        for r in classifier._sparse_margins(y, counts, w, stats).collect()
    }
    without = {
        r.doc_id: r.margin
        for r in classifier._sparse_margins(y, counts, no_bias, stats).collect()
    }
    assert len(without) == y.count() > 0
    assert without == {d: m - wb for d, m in with_bias.items()}


def test_version_diff_accounts_for_every_document(spark):
    """The three classes partition the history's doc set and the
    'added' class matches the discovered-doc synthesis rule."""
    from redis_dataflow_realtime_analytics_spark.operators import sampling

    diff = {r.change: r for r in sampling.corpus_version_diff(spark, SF_SMOKE).collect()}
    hist = sampling.corpus_version_history(spark, SF_SMOKE)
    n_docs = hist.select("doc_id").distinct().count()
    assert sum(r.n_docs for r in diff.values()) == n_docs
    docs = sampling.load(spark, SF_SMOKE, "documents")
    n_added = docs.where("doc_id % 25 = 0").count()
    n_updated = docs.where("doc_id % 10 = 0").count()
    assert diff["added"].n_docs == n_added
    assert diff["updated"].n_docs == n_updated
    # updated docs grow by the ' [recrawled]' suffix
    assert diff["updated"].chars_after > diff["updated"].chars_before


def test_persisted_scorer_identical_to_inline(spark):
    """Serving-path parity: the persisted-model scorer must reproduce
    the train-inline scorer bit-for-bit (deterministic exact-integer
    training makes the artifact bit-identical to fresh training)."""
    from redis_dataflow_realtime_analytics_spark.operators import classifier

    a = classifier.perceptron_persisted_scores(spark, SF_SMOKE)
    b = classifier.perceptron_scores(spark, SF_SMOKE)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_stream_model_scores_parity_with_batch_scorer(spark):
    """Feature-store parity: per-shipment scoring with pinned training
    stats must reproduce the batch scorer exactly across all shipments
    (recomputing stats per batch would break this — the train/serve
    skew the persisted-stats design exists to prevent)."""
    from redis_dataflow_realtime_analytics_spark.operators import classifier
    from redis_dataflow_realtime_analytics_spark.streaming import pipeline as sp

    stream = sp.stream_model_scores(spark, f"{SF_SMOKE}/documents.parquet")
    batch = classifier.perceptron_scores(spark, SF_SMOKE)
    assert stream.count() == batch.count() > 0
    assert stream.exceptAll(batch).count() == 0
    assert batch.exceptAll(stream).count() == 0


def test_keep_best_by_model_picks_max_margin_member(spark):
    """Every kept doc is a member of its cluster with the cluster's
    maximum margin (min doc_id among ties), one keeper per cluster."""
    from redis_dataflow_realtime_analytics_spark.operators import classifier, dedup

    kept = dedup.keep_best_by_model(spark, SF_SMOKE).collect()
    comp = dedup.neardup_components(spark, SF_SMOKE).collect()
    margins = {
        r.doc_id: r.margin
        for r in classifier.perceptron_persisted_scores(spark, SF_SMOKE).collect()
    }
    members = {}
    for r in comp:
        members.setdefault(r.component_id, []).append(r.doc_id)
    assert len(kept) == len(members)
    for r in kept:
        ms = members[r.component_id]
        best = max(margins[d] for d in ms)
        assert r.margin == best
        assert r.doc_id == min(d for d in ms if margins[d] == best)
        assert r.cluster_size == len(ms)


def test_stream_shard_assignment_composes_over_many_shipments(spark):
    """Composition holds for ANY shipment granularity: a 7-chunk replay
    (different batch boundaries than the default 3) must still equal
    the batch incremental layout bit-for-bit — the running-total state
    is associative, not an artifact of one chunking."""
    from redis_dataflow_realtime_analytics_spark.operators import sampling
    from redis_dataflow_realtime_analytics_spark.streaming import pipeline as sp

    stream = sp.stream_shard_assignment(
        spark, f"{SF_SMOKE}/documents.parquet", n_chunks=7
    )
    batch = sampling.shard_assignment_incremental(spark, SF_SMOKE)
    assert stream.count() == batch.count() > 0
    assert stream.exceptAll(batch).count() == 0
    assert batch.exceptAll(stream).count() == 0


def test_stream_model_scores_chunking_invariant(spark):
    """Pinned-stats scoring is batch-size invariant: 5-chunk replay
    equals the batch scorer exactly (per-batch stats would fail this
    at any chunking except 1)."""
    from redis_dataflow_realtime_analytics_spark.operators import classifier
    from redis_dataflow_realtime_analytics_spark.streaming import pipeline as sp

    stream = sp.stream_model_scores(
        spark, f"{SF_SMOKE}/documents.parquet", n_chunks=5
    )
    batch = classifier.perceptron_scores(spark, SF_SMOKE)
    assert stream.exceptAll(batch).count() == 0
    assert batch.exceptAll(stream).count() == 0


def test_bpe_deeper_rounds_still_hash_gate(spark):
    """The unrolled-CTE oracle and the window-walk engine must stay in
    lockstep as the merge budget grows (5 rounds exercises merge chains
    where later merges consume earlier merge outputs, incl. possible
    lhs==rhs runs on merged symbols)."""
    from redis_dataflow_realtime_analytics_spark.operators import text

    from .oracle import compare

    compare(
        text.bpe_merges(spark, SF_SMOKE, n_merges=5),
        text.oracle_bpe_merges(n_merges=5),
        SF_SMOKE,
    )
    compare(
        text.bpe_encode(spark, SF_SMOKE, n_merges=5, doc_mod=50),
        text.oracle_bpe_encode(n_merges=5, doc_mod=50),
        SF_SMOKE,
    )


def test_ttl_sessionizer_equals_batch_session_window(spark):
    """The EventTimeTimeout eviction path must reproduce the batch
    session_window twin EXACTLY: the heartbeat replay closes every real
    session deterministically, intra-batch splits are final, and no
    session is emitted twice or left in state."""
    from redis_dataflow_realtime_analytics_spark.operators import sessions
    from redis_dataflow_realtime_analytics_spark.streaming import stateful

    out = stateful.stream_sessions_ttl(spark, f"{SF_SMOKE}/events.parquet")
    batch = sessions.user_sessions(spark, SF_SMOKE)
    assert out.count() == batch.count() > 0
    assert out.exceptAll(batch).count() == 0
    assert batch.exceptAll(out).count() == 0


def test_stream_bpe_encode_parity_with_batch_encoder(spark):
    """Tokenizer-artifact parity: per-shipment encoding via the
    persisted compiled vocabulary must reproduce the batch encoder
    exactly across all shipments (a per-shipment vocabulary would
    assign different dense token ids — the train/serve skew the
    artifact exists to prevent). Also chunking-invariant: a 4-chunk
    replay equals the default."""
    from redis_dataflow_realtime_analytics_spark.operators import text
    from redis_dataflow_realtime_analytics_spark.streaming import pipeline as sp

    stream = sp.stream_bpe_encode(spark, f"{SF_SMOKE}/documents.parquet")
    batch = text.bpe_encode(spark, SF_SMOKE)
    assert stream.count() == batch.count() > 0
    assert stream.exceptAll(batch).count() == 0
    assert batch.exceptAll(stream).count() == 0
    stream4 = sp.stream_bpe_encode(
        spark, f"{SF_SMOKE}/documents.parquet", n_chunks=4
    )
    assert stream4.exceptAll(batch).count() == 0
    assert batch.exceptAll(stream4).count() == 0


def test_entity_match_prefix_filter_is_lossless(spark):
    """The ED-Join prefix filter must return EXACTLY the brute-force
    edit-distance join (all (dirty, clean) pairs with levenshtein <= 2)
    — the driver oracle proves this vs DuckDB; this test proves it
    in-engine at a different SF with a Spark-side quadratic twin."""
    from pyspark.sql import functions as F

    from redis_dataflow_realtime_analytics_spark.operators import dedup
    from redis_dataflow_realtime_analytics_spark.tables import load

    out = dedup.entity_match_pairs(spark, SF_SMOKE)
    docs = load(spark, SF_SMOKE, "documents")
    clean = docs.select(
        F.col("doc_id").alias("clean_id"),
        F.expr(dedup._ENTITY_TITLE).alias("cname"),
    )
    dirty = docs.where(F.expr("doc_id % 20 IN (1, 7, 13)")).select(
        F.col("doc_id").alias("dirty_id"),
        F.expr(dedup._ENTITY_DIRTY).alias("dname"),
    )
    brute = (
        dirty.crossJoin(clean)
        .withColumn("distance", F.levenshtein("dname", "cname"))
        .where(F.col("distance") <= dedup.ENTITY_MAX_DIST)
        .select("dirty_id", "clean_id", "distance")
    )
    assert out.count() == brute.count() > 0
    assert out.exceptAll(brute).count() == 0
    assert brute.exceptAll(out).count() == 0


def test_entity_match_recovers_planted_corruptions(spark):
    """Every dirty registry record must match its own source doc at the
    planted distance: 1 for the deletion/substitution classes, 0 for
    the unchanged class."""
    from redis_dataflow_realtime_analytics_spark.operators import dedup

    rows = {
        (r.dirty_id, r.clean_id): r.distance
        for r in dedup.entity_match_pairs(spark, SF_SMOKE).collect()
    }
    from redis_dataflow_realtime_analytics_spark.tables import load

    dirty_ids = [
        r.doc_id
        for r in load(spark, SF_SMOKE, "documents")
        .where("doc_id % 20 IN (1, 7, 13)")
        .select("doc_id")
        .collect()
    ]
    assert dirty_ids
    for d in dirty_ids:
        expect = 0 if (d // 20) % 3 == 2 else 1
        assert rows.get((d, d)) == expect, (d, rows.get((d, d)))


def test_interpolated_series_properties(spark):
    """Gap-fill contract: full axis×variants grid; 'obs' rows carry the
    decimal-exact minute mean; 'lerp' rows lie within [min, max] of the
    bracketing observations; 'edge' rows (outside the first/last
    observation) are NULL — and only those are."""
    from pyspark.sql import functions as F

    from redis_dataflow_realtime_analytics_spark.operators import timeseries
    from redis_dataflow_realtime_analytics_spark.sources import (
        normalize_events,
        read_events,
    )

    ev = normalize_events(read_events(spark, SF_SMOKE))
    out = timeseries.variant_minute_interpolated(ev)
    n_axis = timeseries.time_axis(ev).count()
    n_var = ev.select("variant").distinct().count()
    assert out.count() == n_axis * n_var
    assert out.where("src = 'edge' AND metric IS NOT NULL").count() == 0
    assert out.where("src <> 'edge' AND metric IS NULL").count() == 0
    # every lerp row sits between its brackets: check against the obs rows
    rows = out.collect()
    obs = {}
    for r in rows:
        if r.src == "obs":
            obs.setdefault(r.variant, []).append((r.minute, r.metric))
    import bisect

    for r in rows:
        if r.src != "lerp":
            continue
        series = sorted(obs[r.variant])
        ms = [m for m, _ in series]
        i = bisect.bisect_left(ms, r.minute)
        lo, hi = series[i - 1][1], series[i][1]
        assert min(lo, hi) - 1e-9 <= r.metric <= max(lo, hi) + 1e-9, r


def test_interpolated_series_no_unbounded_following_frame(spark):
    """Both brackets must be RUNNING window frames (the reversed-order
    trick): Spark executes an unbounded-FOLLOWING frame by rescanning
    the partition tail per row — O(n²) per series, measured 157 s vs
    4 s on the 43k-minute sf0.01 axis."""
    from redis_dataflow_realtime_analytics_spark import plans
    from redis_dataflow_realtime_analytics_spark.operators import timeseries
    from redis_dataflow_realtime_analytics_spark.sources import (
        normalize_events,
        read_events,
    )

    ev = normalize_events(read_events(spark, SF_SMOKE))
    p = plans.plan_string(timeseries.variant_minute_interpolated(ev))
    assert "unboundedfollowing" not in p.lower(), p


def test_entity_resolve_assigns_planted_sources(spark):
    """Resolution contract: every dirty record is matched (the planted
    source is always within distance 1), the assignment is its own
    source doc unless a strictly closer clean record exists, and the
    distance is the argmin over the match pairs."""
    from redis_dataflow_realtime_analytics_spark.operators import dedup

    res = {r.dirty_id: r for r in dedup.entity_resolve(spark, SF_SMOKE).collect()}
    pairs = {}
    for r in dedup.entity_match_pairs(spark, SF_SMOKE).collect():
        pairs.setdefault(r.dirty_id, []).append((r.distance, r.clean_id))
    assert res and set(pairs) <= set(res)
    for d, r in res.items():
        assert r.matched and r.clean_id is not None, r
        best = min(pairs[d])
        assert (r.distance, r.clean_id) == best, (d, r, best)


def test_stream_entity_probe_parity_with_batch_matcher(spark):
    """Arrival-path linkage parity: per-shipment probing of the
    persisted index (pinned df order) must reproduce the batch matcher
    exactly across all shipments — and stay chunking-invariant."""
    from redis_dataflow_realtime_analytics_spark.operators import dedup
    from redis_dataflow_realtime_analytics_spark.streaming import pipeline as sp

    stream = sp.stream_entity_probe(spark, f"{SF_SMOKE}/documents.parquet")
    batch = dedup.entity_match_pairs(spark, SF_SMOKE)
    assert stream.count() == batch.count() > 0
    assert stream.exceptAll(batch).count() == 0
    assert batch.exceptAll(stream).count() == 0
    stream5 = sp.stream_entity_probe(
        spark, f"{SF_SMOKE}/documents.parquet", n_chunks=5
    )
    assert stream5.exceptAll(batch).count() == 0
    assert batch.exceptAll(stream5).count() == 0


def test_constraint_report_verdicts(spark):
    """Validation-suite contract: one row per constraint, metrics in
    [0, 1]; the healthy-fixture constraints pass and the deliberately
    strict min_length_100 FAILS (a gate that cannot fail proves
    nothing); the whole report compiles to ONE scan — the count-distinct
    rewrite (Expand + two-phase agg) accounts for the extra exchanges,
    all over the 1-row/partial frames."""
    from redis_dataflow_realtime_analytics_spark import plans
    from redis_dataflow_realtime_analytics_spark.operators import relational

    df = relational.constraint_report(spark, SF_SMOKE)
    rows = {r.check_name: r for r in df.collect()}
    assert len(rows) == len(relational._CONSTRAINTS)
    for r in rows.values():
        assert 0.0 <= r.metric <= 1.0, r
        assert r.passed == (r.metric >= r.threshold)
    assert not rows["min_length_100"].passed
    for name in ("completeness_text", "uniqueness_doc_id",
                 "consistency_n_chars_eq_len", "containment_lang_iso",
                 "pattern_source_id", "range_n_chars_1_100k"):
        assert rows[name].passed, name
    assert plans.count_exchanges(df) <= 4, plans.plan_string(df)


def test_bpe_roundtrip_is_lossless(spark):
    """BPE merges only concatenate adjacent symbols, so decoding must
    reproduce every word exactly — for the default merge budget AND a
    deeper one (merge chains where later merges consume earlier
    outputs)."""
    from redis_dataflow_realtime_analytics_spark.operators import text

    for n in (3, 5):
        rows = text.bpe_roundtrip_report(spark, SF_SMOKE, n_merges=n).collect()
        assert rows
        for r in rows:
            assert r.roundtrip_ok and r.n_ok == r.n_words > 0, (n, r)


def test_stream_constraint_report_parity_with_batch(spark):
    """Mergeable-metric parity: summed per-shipment partial counts must
    reproduce the batch validation report exactly — at any chunking
    (fractions do not compose across batches; counts do)."""
    from redis_dataflow_realtime_analytics_spark.operators import relational
    from redis_dataflow_realtime_analytics_spark.streaming import pipeline as sp

    batch = relational.constraint_report(spark, SF_SMOKE)
    for n_chunks in (3, 6):
        stream = sp.stream_constraint_report(
            spark, f"{SF_SMOKE}/documents.parquet", n_chunks=n_chunks
        )
        assert stream.count() == batch.count() > 0
        assert stream.exceptAll(batch).count() == 0
        assert batch.exceptAll(stream).count() == 0


def test_drift_psi_properties(spark):
    """PSI contract: smoothed probabilities in (0,1) summing to ~1 per
    side; psi_term sign matches the probability shift; total PSI is
    positive here (the recrawl suffix and 'new ' prefix shift lengths
    by construction)."""
    from redis_dataflow_realtime_analytics_spark.operators import sampling

    rows = sampling.corpus_drift_psi(spark, SF_SMOKE).collect()
    assert rows
    s0 = sum(r.p0 for r in rows)
    s1 = sum(r.p1 for r in rows)
    assert abs(s0 - 1.0) < 1e-6 and abs(s1 - 1.0) < 1e-6, (s0, s1)
    total = 0.0
    for r in rows:
        assert 0.0 < r.p0 < 1.0 and 0.0 < r.p1 < 1.0
        if r.p1 > r.p0:
            assert r.psi_term >= 0, r
        elif r.p1 < r.p0:
            assert r.psi_term >= 0, r  # (p1-p0) and ln(p1/p0) share sign
        total += r.psi_term
    assert total > 0, total


def test_epoch_shuffle_is_a_permutation_per_epoch(spark):
    """Each epoch's shuffle_pos is exactly 0..n-1 (a true permutation),
    the two epochs order the corpus differently (the seed varies by
    epoch), and the order is deterministic across recomputation."""
    from redis_dataflow_realtime_analytics_spark.operators import sampling

    df = sampling.epoch_shuffle(spark, SF_SMOKE).cache()
    try:
        n_docs = df.where("epoch = 0").count()
        stats = (
            df.groupBy("epoch")
            .agg(
                F.count("*").alias("n"),
                F.countDistinct("shuffle_pos").alias("n_pos"),
                F.min("shuffle_pos").alias("lo"),
                F.max("shuffle_pos").alias("hi"),
            )
            .collect()
        )
        assert len(stats) == 2
        for r in stats:
            assert r.n == n_docs and r.n_pos == n_docs
            assert r.lo == 0 and r.hi == n_docs - 1
        # epochs genuinely reshuffle: the two permutations disagree
        # somewhere (probability of agreement ~ 1/n! — zero in practice)
        agree = (
            df.where("epoch = 0")
            .alias("a")
            .join(
                df.where("epoch = 1").alias("b"),
                F.col("a.doc_id") == F.col("b.doc_id"),
            )
            .where(F.col("a.shuffle_pos") == F.col("b.shuffle_pos"))
            .count()
        )
        assert agree < n_docs
        # deterministic: a fresh plan reproduces the same positions
        again = sampling.epoch_shuffle(spark, SF_SMOKE)
        assert again.exceptAll(df).count() == 0
    finally:
        df.unpersist()


def test_epoch_shuffle_batches_are_contiguous_and_sized(spark):
    """batch_id buckets the permutation into contiguous fixed-size
    training batches: every batch except the last ragged one holds
    exactly batch_docs rows."""
    from redis_dataflow_realtime_analytics_spark.operators import sampling

    df = sampling.epoch_shuffle(spark, SF_SMOKE, batch_docs=32)
    sizes = df.where("epoch = 0").groupBy("batch_id").count().collect()
    n = sum(r["count"] for r in sizes)
    full, last = divmod(n, 32)
    counts = sorted((r.batch_id, r["count"]) for r in sizes)
    for bid, c in counts[: full]:
        assert c == 32, (bid, c)
    if last:
        assert counts[-1][1] == last


def test_drop_audit_assigns_first_failing_stage(spark, tmp_path):
    """Planted corpus exercising every branch of the audit ladder:
    benchmark holdout, too_short, quality fail, exact_dup among gate
    SURVIVORS (a copy of a dropped doc is NOT a dup), contaminated, kept
    — each doc gets exactly the reason of its FIRST failing stage."""
    from redis_dataflow_realtime_analytics_spark.operators import dedup

    good = " ".join(f"p1w{j}" for j in range(120))       # passes every gate
    bench_text = " ".join(f"q0w{j}" for j in range(120))  # the holdout doc
    rows = [
        (1, good),                # kept (canonical of its group)
        (2, good),                # exact_dup of 1
        (3, "x"),                 # too_short (<2 tokens: no verdict row)
        (4, "!! ?? !! ??"),       # quality fail (pure punctuation)
        (5, bench_text),          # contaminated (copies the benchmark doc;
                                  #   doc 20 is not a survivor, so 5 is
                                  #   canonical — dedup does NOT catch it)
        (20, bench_text),         # benchmark slice (20 % 20 == 0)
    ]
    d = tmp_path / "audit_sf"
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(
        str(d / "documents.parquet")
    )
    audit = {r.doc_id: (r.drop_reason, r.stage) for r in
             dedup.corpus_drop_audit(spark, str(d)).collect()}
    assert audit == {
        1: ("kept", 5),
        2: ("exact_dup", 3),
        3: ("too_short", 1),
        4: ("quality", 2),
        5: ("contaminated", 4),
        20: ("benchmark", 0),
    }


def test_stream_drop_audit_parity_with_batch(spark):
    """The arrival-path audit equals the batch audit row-for-row:
    shipments replay doc_id-ascending, so the incremental survivor-hash
    index decision reproduces the batch canonical-per-group decision,
    and every other stage is per-document."""
    from redis_dataflow_realtime_analytics_spark.operators import dedup
    from redis_dataflow_realtime_analytics_spark.streaming import pipeline as sp

    batch = dedup.corpus_drop_audit(spark, SF_SMOKE)
    stream = sp.stream_drop_audit(spark, f"{SF_SMOKE}/documents.parquet")
    assert stream.count() == batch.count()
    assert stream.exceptAll(batch).count() == 0
    assert batch.exceptAll(stream).count() == 0


def test_quantile_normalized_is_monotone_and_distribution_preserving(spark):
    """Within every source the normalized score is monotone in the raw
    score (quantile mapping preserves within-source order), and every
    normalized value is an actual global order statistic (a quality
    value that exists in the corpus)."""
    from redis_dataflow_realtime_analytics_spark.operators import sampling

    df = sampling.quality_quantile_normalized(spark, SF_SMOKE).cache()
    try:
        rows = df.collect()
        by_src: dict = {}
        for r in rows:
            by_src.setdefault(r.source, []).append((r.quality, r.doc_id, r.norm_quality))
        for src, vals in by_src.items():
            vals.sort()
            norms = [v[2] for v in vals]
            assert norms == sorted(norms), f"non-monotone mapping in {src}"
        corpus_scores = {r.quality for r in rows}
        assert all(r.norm_quality in corpus_scores for r in rows)
        # extremes: each source's best doc maps to (near) the global max
        gmax = max(r.quality for r in rows)
        for src, vals in by_src.items():
            if len(vals) > 1:
                assert vals[-1][2] == gmax, (src, vals[-1])
    finally:
        df.unpersist()


def test_active_sessions_sweepline_invariants(spark):
    """Total minute-coverage equals the sum of each session's covered
    minutes (the sweep-line conserves area), concurrency is never
    negative, and the curve starts and ends at a session boundary."""
    from redis_dataflow_realtime_analytics_spark.operators import sessions

    curve = sessions.active_sessions_per_minute(spark, SF_SMOKE).cache()
    try:
        assert curve.where("active_sessions < 0").count() == 0
        total = curve.agg(F.sum("active_sessions")).collect()[0][0]
        per_session = (
            sessions.user_sessions(spark, SF_SMOKE)
            .select(
                (
                    (
                        F.unix_timestamp(
                            F.date_trunc(
                                "minute",
                                F.col("session_end")
                                - F.expr("INTERVAL 1 MICROSECOND"),
                            )
                        )
                        - F.unix_timestamp(
                            F.date_trunc("minute", F.col("session_start"))
                        )
                    )
                    / 60
                    + 1
                ).alias("mins")
            )
            .agg(F.sum("mins"))
            .collect()[0][0]
        )
        assert total == int(per_session), (total, per_session)
        first, last = curve.orderBy("minute").first(), curve.orderBy(
            F.desc("minute")
        ).first()
        assert first.active_sessions > 0 and last.active_sessions > 0
    finally:
        curve.unpersist()


def test_rake_keyphrases_structure(spark, tmp_path):
    """Planted corpus with a known repeated keyphrase: phrases contain
    no stopwords, respect the length bounds, and the planted phrase
    surfaces with the expected doc support and the hand-computed RAKE
    score (isolated phrase => each word scores len, phrase scores
    len^2)."""
    from redis_dataflow_realtime_analytics_spark.operators import text as t

    filler = [" ".join(f"u{i}w{j}" for j in range(6)) for i in range(3)]
    rows = [
        (1, "machine learning models and " + filler[0]),
        (2, "machine learning models in " + filler[1]),
        (3, filler[2]),
    ]
    d = tmp_path / "rake_sf"
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(
        str(d / "documents.parquet")
    )
    out = {r.phrase: r for r in t.rake_keyphrases(spark, str(d)).collect()}
    stops = set(t.QUALITY_STOPWORDS)
    for phrase, r in out.items():
        ws = phrase.split(" ")
        assert t.RAKE_MIN_LEN <= len(ws) <= t.RAKE_MAX_LEN
        assert not (set(ws) & stops), phrase
        assert r.n_docs >= t.RAKE_MIN_DOCS
    # 'machine learning models' occurs isolated in 2 docs: every word has
    # freq=2, deg=2*3 => word score 3.0, phrase score 9.0
    key = out["machine learning models"]
    assert key.n_occurrences == 2 and key.n_docs == 2
    assert key.rake_score == 9.0


def test_sentence_chunker_never_cuts_a_sentence(spark, tmp_path):
    """Planted multi-sentence doc: chunk boundaries land only between
    sentences, in-order reassembly of the chunks reproduces the full
    sentence sequence, and an oversized sentence still lands in exactly
    one chunk (next-fit semantics)."""
    from redis_dataflow_realtime_analytics_spark.operators import sampling

    sents = [f"sentence number {i} with some words here" for i in range(20)]
    long_sent = "x" * 900  # longer than any width budget
    rows = [(1, ". ".join(sents) + "."), (2, long_sent + ". short tail.")]
    d = tmp_path / "chunk_sf"
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(
        str(d / "documents.parquet")
    )
    out = sampling.chunk_documents_sentences(spark, str(d), width=120).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    d1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    assert len(d1) > 1  # the budget actually splits the doc
    joined = " ".join(r.chunk_text for r in d1)
    assert joined == " ".join(s.strip() for s in sents)
    # every chunk holds whole sentences only
    for r in d1:
        for piece in r.chunk_text.split(" with some words here"):
            assert piece == "" or piece.strip().startswith("sentence number"), r
    d2 = sorted(by_doc[2], key=lambda r: r.chunk_id)
    big = [r for r in d2 if str(r.chunk_text).startswith("xxx")]
    assert len(big) == 1 and big[0].n_sentences == 1
    assert big[0].n_chars == 900


def test_hierarchical_rollup_partials_compose(spark):
    """Hour rows equal the sum of their minute rows and day rows the sum
    of their hour rows — the mergeable-partial contract; the grain
    column partitions the output cleanly."""
    from redis_dataflow_realtime_analytics_spark.operators import metrics
    from redis_dataflow_realtime_analytics_spark.registry import _ev

    out = metrics.hierarchical_time_rollup(_ev(spark, SF_SMOKE)).cache()
    try:
        grains = {r.grain for r in out.select("grain").distinct().collect()}
        assert grains == {"minute", "hour", "day"}
        m = out.where("grain = 'minute'")
        h = out.where("grain = 'hour'")
        re_h = m.groupBy(F.date_trunc("hour", "bucket").alias("bucket")).agg(
            F.sum("visits").alias("visits")
        )
        diff = (
            h.select("bucket", "visits")
            .exceptAll(re_h.select("bucket", "visits"))
            .count()
        )
        assert diff == 0
        tot = {r.grain: r.s for r in
               out.groupBy("grain").agg(F.sum("visits").alias("s")).collect()}
        assert tot["minute"] == tot["hour"] == tot["day"]
    finally:
        out.unpersist()


def test_stream_rollup_merges_cross_batch_partials(spark):
    """The ts-chunked replay makes minutes straddle shipments, so the
    store holds MORE partial rows than distinct minutes — the read-side
    merge is therefore load-bearing, and the merged hierarchy equals the
    batch operator exactly."""
    from redis_dataflow_realtime_analytics_spark.operators import metrics
    from redis_dataflow_realtime_analytics_spark.registry import _ev
    from redis_dataflow_realtime_analytics_spark.streaming import pipeline as sp

    stream = sp.stream_hierarchical_rollup(spark, f"{SF_SMOKE}/events.parquet")
    batch = metrics.hierarchical_time_rollup(_ev(spark, SF_SMOKE))
    assert stream.exceptAll(batch).count() == 0
    assert batch.exceptAll(stream).count() == 0
    # straddling proof: with 3 ts-ordered chunks, at least the two
    # boundary minutes appear in two shipments each unless a boundary
    # happens to fall exactly on a minute edge; assert the replay dir
    # really produced multiple files (micro-batches)
    import os
    replay = sp._chunked_events_replay_dir(f"{SF_SMOKE}/events.parquet")
    files = [f for f in os.listdir(replay) if f.endswith(".parquet")]
    assert len(files) >= 3


def test_basket_pairs_symmetric_support_and_lift(spark):
    """Pair supports never exceed either side's item support, part_a <
    part_b everywhere, and lift reproduces the integer ratio."""
    from redis_dataflow_realtime_analytics_spark.operators import relational

    rows = relational.basket_part_pairs(spark, SF_SMOKE).collect()
    assert rows
    n_orders = (
        relational.load(spark, SF_SMOKE, "lineitem")
        .select("l_orderkey")
        .distinct()
        .count()
    )
    for r in rows[:200]:
        assert r.part_a < r.part_b
        assert r.n_orders_pair <= min(r.n_orders_a, r.n_orders_b)
        expect = r.n_orders_pair * n_orders / (r.n_orders_a * r.n_orders_b)
        assert abs(r.lift - expect) < 1e-9, r
