"""Incremental-selection invariants: the decision update must equal the
from-scratch pipeline, stage by stage and end to end."""

from __future__ import annotations

import shutil

import pyspark.sql.functions as F
import pytest


@pytest.fixture(scope="module", autouse=True)
def _fresh_stages(spark, sf_dir):
    """Cold-start the standing state so the tests exercise the BUILD path
    too (a stale stage from an earlier constants regime would otherwise
    mask a maintenance bug behind a warm artifact)."""
    from ting_data_etl_spark.operators.dedup import purge_stages

    purge_stages(sf_dir)
    yield


def test_merged_pairs_equal_full_selfjoin(spark, sf_dir):
    """Touched-bucket pair maintenance == the full self-join pair set.

    The core exactness claim: untouched buckets keep their staged
    contributions, touched buckets re-pair under merged occupancy, and the
    union reproduces ``dedup_minhash_pairs`` over the whole table —
    including cap flips (a standing bucket pushed over the frequency cap
    by batch arrivals must LOSE its standing pairs)."""
    from ting_data_etl_spark.operators.dedup import dedup_minhash_pairs
    from ting_data_etl_spark.operators.incremental import _merged_pairs

    inc = sorted(map(tuple, _merged_pairs(spark, sf_dir).collect()))
    full = sorted(map(tuple, dedup_minhash_pairs(spark, sf_dir).collect()))
    assert inc == full


def test_incremental_equals_full_selection(spark, sf_dir):
    """End to end: the incremental decision relation is row-identical to
    ``corpus_final_selection`` on the post-merge corpus."""
    from ting_data_etl_spark.operators.curation import corpus_final_selection
    from ting_data_etl_spark.operators.incremental import (
        corpus_incremental_selection,
    )

    inc = sorted(
        map(tuple, corpus_incremental_selection(spark, sf_dir).collect())
    )
    full = sorted(map(tuple, corpus_final_selection(spark, sf_dir).collect()))
    assert inc == full
    assert len(inc) > 0


def test_contamination_additivity(spark, sf_dir):
    """Staged standing hits + new-benchmark hits == full merged-benchmark
    hits, per standing corpus document (the disjointness argument the
    additive update rests on)."""
    from ting_data_etl_spark.operators.curation import (
        BENCHMARK_MOD,
        dedup_contamination_check,
    )
    from ting_data_etl_spark.operators.incremental import (
        _batch_pred,
        _standing_contam,
        _standing_grams,
    )

    bench_pred = F.col("doc_id") % BENCHMARK_MOD == 0
    grams = _standing_grams(spark, sf_dir)
    full = {
        r["doc_id"]: r["n_contaminated"]
        for r in dedup_contamination_check(spark, sf_dir)
        .filter(~_batch_pred())
        .select("doc_id", "n_contaminated")
        .collect()
    }
    staged = {
        r["doc_id"]: r["n_contaminated"]
        for r in _standing_contam(spark, sf_dir).collect()
    }
    assert set(staged) == set(full)
    # full counts (vs merged bench) >= staged counts (vs standing bench),
    # and the delta is exactly the hits on new-benchmark-only grams
    from ting_data_etl_spark.functions.text import portable_hash31
    from ting_data_etl_spark.operators.curation import CONTAM_NGRAM
    from ting_data_etl_spark.operators.dedup import word_shingles_df
    from ting_data_etl_spark.sources.tables import load_table

    batch = load_table(spark, sf_dir, "documents").filter(_batch_pred())
    bench_b = (
        word_shingles_df(batch, n=CONTAM_NGRAM)
        .select("doc_id", portable_hash31(F.col("s")).alias("h"))
        .filter(bench_pred)
        .select("h")
        .distinct()
        .filter(F.col("h").isNotNull())
    )
    bench_st = grams.filter(bench_pred).select("h").distinct()
    new_bench = bench_b.join(bench_st, "h", "left_anti")
    add = {
        r["doc_id"]: r["n"]
        for r in grams.filter(~bench_pred)
        .join(new_bench, "h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for doc, n_full in full.items():
        assert n_full == staged[doc] + add.get(doc, 0), doc


def test_incremental_contamination_relation_equal(spark, sf_dir):
    """The registered maintenance leg is row-identical to the from-scratch
    contamination sweep on the merged corpus (all five columns)."""
    from ting_data_etl_spark.operators.curation import (
        dedup_contamination_check,
    )
    from ting_data_etl_spark.operators.incremental import (
        incremental_contamination_update,
    )

    inc = sorted(
        map(tuple, incremental_contamination_update(spark, sf_dir).collect())
    )
    full = sorted(
        map(tuple, dedup_contamination_check(spark, sf_dir).collect())
    )
    assert inc == full


def test_sem_pruned_set_equal(spark, sf_dir):
    """The merged SemDeDup relation (staged standing candidates ∪
    batch-involving probes, min-keeper) == the full from-scratch relation,
    all three columns; the staged leg is standing-only and a subset."""
    from ting_data_etl_spark.operators.dedup import (
        INCR_BATCH_MOD,
        INCR_BATCH_REM,
    )
    from ting_data_etl_spark.operators.incremental import (
        _merged_semdedup,
        _standing_sem_pruned,
    )
    from ting_data_etl_spark.operators.similarity import dedup_semdedup_prune

    full = sorted(map(tuple, dedup_semdedup_prune(spark, sf_dir).collect()))
    merged = sorted(map(tuple, _merged_semdedup(spark, sf_dir).collect()))
    assert merged == full
    staged = {
        r["vec_id"] for r in _standing_sem_pruned(spark, sf_dir).collect()
    }
    assert staged <= {v for v, _, _ in full}
    assert all(v % INCR_BATCH_MOD != INCR_BATCH_REM for v in staged)


def test_maintained_pairs_cap_readmission(spark):
    """Deleting members of an over-cap bucket must RE-ADMIT its pairs.

    Planted scenario: bucket (0,'hot') holds cap+1 docs (zero staged
    pairs), bucket (0,'cold') holds 2 (one staged pair), bucket (0,'new')
    holds 1. Tombstoning one hot member drops the bucket to exactly cap —
    its C(cap,2) pairs must appear; the cold bucket is unaffected and
    keeps its staged pair; a new row joining 'new' creates that pair."""
    import ting_data_etl_spark.operators.dedup as D
    from ting_data_etl_spark.operators.incremental import maintained_pairs

    cap = D.BAND_FREQUENCY_CAP
    hot = [(i, 0, "hot") for i in range(cap + 1)]
    cold = [(1000, 0, "cold"), (1001, 0, "cold")]
    new_home = [(2000, 0, "new")]
    bands = spark.createDataFrame(
        hot + cold + new_home, ["doc_id", "j", "band"]
    )
    # staged contributions under standing occupancy: hot over cap -> none
    bpairs = spark.createDataFrame(
        [(0, "cold", 1000, 1001)], ["j", "band", "doc_a", "doc_b"]
    )
    tombstones = spark.createDataFrame([(0,)], ["doc_id"])
    new_rows = spark.createDataFrame([(2001, 0, "new")], ["doc_id", "j", "band"])
    got = {
        (r["doc_a"], r["doc_b"])
        for r in maintained_pairs(bands, bpairs, tombstones, new_rows).collect()
    }
    survivors = list(range(1, cap + 1))
    expect = {
        (a, b) for a in survivors for b in survivors if a < b
    } | {(1000, 1001), (2000, 2001)}
    assert got == expect


def test_pairs_with_deletes_equal_full_recompute(spark, sf_dir):
    """The registered maintenance query == a from-scratch re-sign + pair
    self-join over the post-edit standing corpus (the oracle's statement,
    replicated Spark-side)."""
    import pyspark.sql.functions as F  # noqa: F811

    from ting_data_etl_spark.operators.dedup import (
        _incr_mh_deleted,
        _incr_mh_readded,
        band_frequency_cap,
        lsh_bands,
        minhash_signatures_df,
    )
    from ting_data_etl_spark.operators.incremental import (
        _batch_pred,
        incremental_pairs_with_deletes,
    )
    from ting_data_etl_spark.sources.tables import load_table

    got = sorted(
        map(tuple, incremental_pairs_with_deletes(spark, sf_dir).collect())
    )
    d = load_table(spark, sf_dir, "documents").filter(~_batch_pred())
    alive = d.filter(~(_incr_mh_deleted() & ~_incr_mh_readded())).select(
        "doc_id",
        F.when(
            _incr_mh_readded(),
            F.concat(
                F.col("text"),
                F.lit(" edited "),
                F.col("doc_id").cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    bands = minhash_signatures_df(alive).select(
        "doc_id", F.posexplode(lsh_bands(F.col("sig"))).alias("j", "band")
    )
    capped = band_frequency_cap(bands)
    a, b = capped.alias("a"), capped.alias("b")
    full = sorted(
        map(
            tuple,
            a.join(
                b,
                (F.col("a.j") == F.col("b.j"))
                & (F.col("a.band") == F.col("b.band"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
            .collect(),
        )
    )
    assert got == full


def test_streaming_arrival_gate_equals_batch_composition(spark, sf_dir):
    """The union over micro-batches == the one-shot composition of the two
    registered batch operators (probe + gate) — the splittability property
    the streaming leg rests on. Also pins that the stream actually ran as
    MULTIPLE micro-batches (4 staged files, maxFilesPerTrigger 1), not one,
    and that the staged files replay in an unambiguous order: distinct,
    ascending mtimes in name order, so the gate's footer count for
    micro-batch i is the i-th file's."""
    import os

    from ting_data_etl_spark.operators.curation import (
        text_gopher_quality_rules,
    )
    from ting_data_etl_spark.operators.dedup import dedup_incremental_minhash
    from ting_data_etl_spark.operators.incremental import (
        _batch_pred,
        _stage_batch_arrivals,
        _staged_batch_rows,
        streaming_incremental_arrival_gate,
    )

    staged = _stage_batch_arrivals(spark, sf_dir)
    files = sorted(
        os.path.join(staged, f)
        for f in os.listdir(staged)
        if f.endswith(".parquet")
    )
    assert len(files) == 4
    mtimes = [os.path.getmtime(f) for f in files]
    assert all(a < b for a, b in zip(mtimes, mtimes[1:])), mtimes
    assert _staged_batch_rows(staged) == [
        spark.read.parquet(f).count() for f in files
    ]
    got = sorted(
        map(
            tuple,
            streaming_incremental_arrival_gate(spark, sf_dir).collect(),
        )
    )
    g = text_gopher_quality_rules(spark, sf_dir).filter(_batch_pred()).select(
        "doc_id", "passes_gopher"
    )
    expect = sorted(
        map(
            tuple,
            g.join(dedup_incremental_minhash(spark, sf_dir), "doc_id")
            .select("doc_id", "passes_gopher", "dup_of", "is_dup")
            .collect(),
        )
    )
    assert got == expect
    assert len(got) > 0


def test_benchmark_rotation_actually_exercised(spark, sf_dir):
    """The fixture must contain at least one re-edited/deleted BENCHMARK
    document whose grams leave the benchmark set — otherwise the
    subtractive leg of incremental_contamination_with_deletes is dead code
    the oracle can't distinguish from the additive path."""
    import pyspark.sql.functions as F  # noqa: F811

    from ting_data_etl_spark.operators.curation import BENCHMARK_MOD
    from ting_data_etl_spark.operators.dedup import _incr_mh_readded
    from ting_data_etl_spark.operators.incremental import _standing_grams

    bench_pred = F.col("doc_id") % BENCHMARK_MOD == 0
    grams = _standing_grams(spark, sf_dir)
    # a re-edited benchmark doc exists in the standing corpus ...
    n_rotated = grams.filter(bench_pred & _incr_mh_readded()).count()
    assert n_rotated > 0
    # ... and its old grams are not all covered by surviving bench docs
    old_only = (
        grams.filter(bench_pred & _incr_mh_readded())
        .select("h")
        .join(
            grams.filter(bench_pred & ~_incr_mh_readded()).select("h"),
            "h",
            "left_anti",
        )
        .count()
    )
    assert old_only > 0


def test_budget_with_deletes_respects_edits(spark, sf_dir):
    """Tombstoned docs never make the head; re-edited docs that do carry
    their POST-edit token counts (stale staged counts would be the bug)."""
    import pyspark.sql.functions as F  # noqa: F811

    from ting_data_etl_spark.functions.text import token_count
    from ting_data_etl_spark.operators.dedup import (
        _incr_mh_deleted,
        _incr_mh_readded,
    )
    from ting_data_etl_spark.operators.incremental import (
        _batch_pred,
        incremental_budget_with_deletes,
    )
    from ting_data_etl_spark.sources.tables import load_table

    head = incremental_budget_with_deletes(spark, sf_dir)
    gone = head.filter(_incr_mh_deleted() & ~_incr_mh_readded()).count()
    assert gone == 0
    edited_in_head = {
        r["doc_id"]: r["n_toks"]
        for r in head.filter(_incr_mh_readded()).collect()
    }
    if edited_in_head:
        d = load_table(spark, sf_dir, "documents")
        fresh = {
            r["doc_id"]: r["n"]
            for r in d.filter(_incr_mh_readded() & ~_batch_pred())
            .select(
                "doc_id",
                token_count(
                    F.concat(
                        F.col("text"),
                        F.lit(" edited "),
                        F.col("doc_id").cast("string"),
                    )
                ).alias("n"),
            )
            .collect()
        }
        for doc, n in edited_in_head.items():
            assert n == fresh[doc], doc


def test_selection_with_deletes_universe_and_domain(spark, sf_dir):
    """The post-edit decision relation covers exactly the alive standing
    docs, never a tombstoned or batch doc; and the fixture exercises the
    semantic-maintenance path (at least one cluster holds a tombstoned
    vector, so the un-prune recompute actually runs)."""
    import pyspark.sql.functions as F  # noqa: F811

    from ting_data_etl_spark.operators.dedup import (
        INCR_DELETE_MOD,
        INCR_DELETE_REM,
        INCR_READD_MOD,
        INCR_READD_REM,
        _incr_mh_deleted,
        _incr_mh_readded,
    )
    from ting_data_etl_spark.operators.incremental import (
        _batch_pred,
        _standing_sem,
        corpus_selection_with_deletes,
    )
    from ting_data_etl_spark.sources.tables import load_table

    out = corpus_selection_with_deletes(spark, sf_dir)
    rows = out.collect()
    alive_pred = ~(_incr_mh_deleted() & ~_incr_mh_readded())
    expected_n = (
        load_table(spark, sf_dir, "documents")
        .filter(~_batch_pred() & alive_pred)
        .count()
    )
    assert len(rows) == expected_n
    ids = {r["doc_id"] for r in rows}
    assert all(
        not (i % INCR_DELETE_MOD == INCR_DELETE_REM
             and i % INCR_READD_MOD != INCR_READD_REM)
        for i in ids
    )
    assert {r["decision"] for r in rows} <= {
        "benchmark", "low_quality", "contaminated", "duplicate",
        "semantic_duplicate", "over_budget", "selected",
    }
    assert any(r["decision"] == "selected" for r in rows)
    vdeleted = (
        F.pmod(F.col("vec_id"), F.lit(INCR_DELETE_MOD)) == INCR_DELETE_REM
    ) & ~(F.pmod(F.col("vec_id"), F.lit(INCR_READD_MOD)) == INCR_READD_REM)
    n_affected = (
        _standing_sem(spark, sf_dir).filter(vdeleted).select("list_id")
        .distinct().count()
    )
    assert n_affected > 0


def test_two_day_evolution_via_split_retune(spark, sf_dir):
    """Day-2 arrival over the day-1-absorbed corpus still reproduces the
    from-scratch decisions.

    The default split (mod 5, rem 1) plays day 1; after absorbing it, the
    standing corpus is everything except tomorrow's drop — exactly the
    (mod 10, rem 6) split, since doc%5==1 ⇔ doc%10 ∈ {1, 6}. Retuning to
    that split therefore IS the day-2 run over the post-day-1 standing
    state (rebuilt from source, as every incremental op in this repo
    stages for test determinism), and the fingerprint rotation gives it a
    fresh stage. Decisions must again equal the full pipeline — the
    split-agnosticism that makes the daily cadence sound.
    """
    import ting_data_etl_spark.operators.dedup as D
    from ting_data_etl_spark.operators.curation import corpus_final_selection
    from ting_data_etl_spark.operators.incremental import (
        corpus_incremental_selection,
    )

    full = sorted(map(tuple, corpus_final_selection(spark, sf_dir).collect()))
    prev = (D.INCR_BATCH_MOD, D.INCR_BATCH_REM)
    D.INCR_BATCH_MOD, D.INCR_BATCH_REM = 10, 6
    try:
        day2 = sorted(
            map(tuple, corpus_incremental_selection(spark, sf_dir).collect())
        )
    finally:
        D.INCR_BATCH_MOD, D.INCR_BATCH_REM = prev
    assert day2 == full


def test_stage_fingerprint_rotates_on_batch_split_retune(sf_dir):
    """A retune of the batch split (or any selection constant) must land on
    a FRESH standing stage — serving state built under the old split would
    silently misclassify standing docs as batch and vice versa."""
    import ting_data_etl_spark.operators.dedup as D
    from ting_data_etl_spark.operators.incremental import _incr_stage_path

    base = _incr_stage_path(sf_dir, "ledger", ("documents",))
    prev = D.INCR_BATCH_MOD
    D.INCR_BATCH_MOD = prev * 10
    try:
        retuned = _incr_stage_path(sf_dir, "ledger", ("documents",))
    finally:
        D.INCR_BATCH_MOD = prev
    assert retuned != base
    assert _incr_stage_path(sf_dir, "ledger", ("documents",)) == base


def test_stage_artifacts_are_standing_only(spark, sf_dir):
    """No batch document leaks into the staged standing state."""
    from ting_data_etl_spark.operators.dedup import (
        INCR_BATCH_MOD,
        INCR_BATCH_REM,
    )
    from ting_data_etl_spark.operators.incremental import (
        _standing_bands,
        _standing_ledger,
    )

    for df in (
        _standing_ledger(spark, sf_dir),
        _standing_bands(spark, sf_dir),
    ):
        n = df.filter(
            F.pmod(F.col("doc_id"), F.lit(INCR_BATCH_MOD)) == INCR_BATCH_REM
        ).count()
        assert n == 0


def test_stage_fingerprint_rotates_on_stopword_content_swap(sf_dir):
    """An equal-LENGTH stopword swap must rotate the standing-state
    fingerprint — the staged quality ledger reads the word LIST, so a
    length-only fingerprint would serve stale state (the exact failure
    class _incr_token exists to prevent)."""
    import ting_data_etl_spark.functions.text as T
    from ting_data_etl_spark.operators.incremental import _incr_stage_path

    base = _incr_stage_path(sf_dir, "ledger", ("documents",))
    prev = list(T.STOPWORDS["en"])
    T.STOPWORDS["en"] = prev[:-1] + ["zzz"]  # same count, new content
    try:
        swapped = _incr_stage_path(sf_dir, "ledger", ("documents",))
    finally:
        T.STOPWORDS["en"] = prev
    assert swapped != base
    assert _incr_stage_path(sf_dir, "ledger", ("documents",)) == base


def test_closure_stage_keys_rotate_on_retune(sf_dir):
    """The staged closure labels (incr_sel_cc / incrdel_cc) depend on the
    batch/delete/re-add splits via their pair sets and node universes, so
    their stage paths must fold _incr_token() — staged_components' own
    fingerprint sees only dedup constants + source mtimes."""
    import ting_data_etl_spark.operators.dedup as D
    from ting_data_etl_spark.operators.dedup import component_stage_path
    from ting_data_etl_spark.operators.incremental import _incr_token

    def paths():
        tok = _incr_token()
        return (
            component_stage_path(sf_dir, f"incr_sel_cc_{tok}"),
            component_stage_path(sf_dir, f"incrdel_cc_{tok}"),
        )

    base = paths()
    for attr in ("INCR_BATCH_MOD", "INCR_DELETE_MOD", "INCR_READD_MOD"):
        prev = getattr(D, attr)
        setattr(D, attr, prev * 10)
        try:
            assert paths() != base, attr
        finally:
            setattr(D, attr, prev)
    assert paths() == base


def test_arrival_gate_probe_is_standing_shuffle_free(spark, sf_dir):
    """The per-trigger probe join must read the standing index as a
    BUCKETED scan with no standing-side Exchange — the r11 weak mark was
    this join re-shuffling the whole index every micro-batch."""
    from ting_data_etl_spark.operators.dedup import (
        lsh_bands,
        minhash_signatures_df,
    )
    from ting_data_etl_spark.operators.incremental import (
        _batch_pred,
        _standing_capped_index,
    )
    from ting_data_etl_spark.sources.tables import load_table

    idx = _standing_capped_index(spark, sf_dir)
    batch = load_table(spark, sf_dir, "documents").filter(_batch_pred())
    bands_b = minhash_signatures_df(batch).select(
        "doc_id", F.posexplode(lsh_bands(F.col("sig"))).alias("j", "band")
    )
    probe = bands_b.alias("b").join(
        idx.alias("c"),
        (F.col("b.j") == F.col("c.j")) & (F.col("b.band") == F.col("c.band")),
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "incr_bandsidx" in plan, plan

    # walk UP the tree from the standing scan: no Exchange may sit between
    # it and the probe join. (A small batch broadcasts — the planner then
    # rightly disables the bucketed scan since there is no exchange to
    # avoid; a large batch sort-merge-joins against the bucketed layout —
    # either way the standing side must not be re-shuffled per trigger.)
    import re

    def marker_col(line: str) -> int:
        m = re.search(r"[:+]-", line)
        return m.start() if m else -1

    lines = plan.splitlines()
    scan_i = next(i for i, l in enumerate(lines) if "incr_bandsidx" in l)
    cur = marker_col(lines[scan_i])
    for i in range(scan_i - 1, -1, -1):
        d = marker_col(lines[i])
        if d == -1:  # root line
            break
        if d < cur:  # an ancestor of the standing scan
            assert "Exchange" not in lines[i], plan
            if "Join" in lines[i]:
                break
            cur = d


def test_sem_drift_guard_fires_on_planted_drift(spark):
    """A batch concentrated in one cell of a spread-out pinned model must
    trip the TV tripwire; a batch matching the standing occupancy must
    not (the guard signals index-rebuild-due, it never alters results)."""
    import warnings

    from ting_data_etl_spark.operators.incremental import _sem_drift_guard
    from ting_data_etl_spark.operators.similarity import occupancy_shares

    standing = occupancy_shares(
        spark.createDataFrame(
            [(i, i % 4) for i in range(400)], "vec_id long, list_id int"
        )
    )
    drifted = spark.createDataFrame(
        [(1000 + i, 0) for i in range(100)], "vec_id long, list_id int"
    )
    with pytest.warns(UserWarning, match="pinned coarse model"):
        tv = _sem_drift_guard(standing, drifted)
    assert tv > 0.5

    matched = spark.createDataFrame(
        [(2000 + i, i % 4) for i in range(100)], "vec_id long, list_id int"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        tv = _sem_drift_guard(standing, matched)
    assert tv < 0.05


def test_multiday_interleaved_evolution(spark, sf_dir):
    """Arrivals → deletes → deleted-doc RE-ARRIVAL → next-day arrivals,
    chained over the same standing state, each transition equal to
    from-scratch (VERDICT r11 #5 — the two-day split-retune test covers
    absorption; this interleaves the tombstone machinery with it).

    Day 3 is the case the ledger union + uncapped band index exist for: a
    doc tombstoned on day 2 re-arrives (READD widened to cover every
    deleted id), so its pairs must re-admit, its cluster can re-prune
    mates, and the budget re-cuts — still bit-equal to a from-scratch run
    on the post-edit corpus.
    """
    import duckdb

    import ting_data_etl_spark.operators.dedup as D
    from ting_data_etl_spark.operators.curation import corpus_final_selection
    from ting_data_etl_spark.operators.incremental import (
        _sql_selection_after_deletes,
        corpus_incremental_selection,
        corpus_selection_with_deletes,
    )

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def oracle(sql):
        df = con.execute(sql).fetchdf()
        df = df[sorted(df.columns)]
        return sorted(map(tuple, df.itertuples(index=False, name=None)))

    def rows(df):
        return sorted(map(tuple, df.select(*sorted(df.columns)).collect()))

    # day 1 — arrivals absorb under the default split
    assert rows(corpus_incremental_selection(spark, sf_dir)) == rows(
        corpus_final_selection(spark, sf_dir)
    )

    # day 2 — tombstones + re-edits over the SAME standing stages
    assert rows(corpus_selection_with_deletes(spark, sf_dir)) == oracle(
        _sql_selection_after_deletes()
    )

    # day 3 — every doc deleted on day 2 RE-ARRIVES (re-edit convention
    # widened to the whole delete split: %20==14 docs were pure tombstones
    # above, now they come back with new text)
    prev_r = (D.INCR_READD_MOD, D.INCR_READD_REM)
    D.INCR_READD_MOD, D.INCR_READD_REM = (
        D.INCR_DELETE_MOD,
        D.INCR_DELETE_REM,
    )
    try:
        assert rows(corpus_selection_with_deletes(spark, sf_dir)) == oracle(
            _sql_selection_after_deletes()
        )
    finally:
        D.INCR_READD_MOD, D.INCR_READD_REM = prev_r

    # day 4 — the next arrival drop (split retune = the two-day argument),
    # and the retuned standing stages must STILL be standing-only (no
    # batch/tombstone state leaked into a staged key by days 1-3)
    from ting_data_etl_spark.operators.incremental import _standing_ledger

    prev_b = (D.INCR_BATCH_MOD, D.INCR_BATCH_REM)
    D.INCR_BATCH_MOD, D.INCR_BATCH_REM = 10, 6
    try:
        assert rows(corpus_incremental_selection(spark, sf_dir)) == rows(
            corpus_final_selection(spark, sf_dir)
        )
        n = (
            _standing_ledger(spark, sf_dir)
            .filter(F.pmod(F.col("doc_id"), F.lit(10)) == 6)
            .count()
        )
        assert n == 0
    finally:
        D.INCR_BATCH_MOD, D.INCR_BATCH_REM = prev_b


def test_arrival_gate_restores_aqe_when_the_batch_body_raises(
    spark, sf_dir, monkeypatch
):
    """A small drop turns AQE off for its batch body; when that body raises
    (here: its first join), the finally must still restore the batch
    session's prior value, or every later micro-batch of the stream runs
    with the leaked setting."""
    from ting_data_etl_spark.operators.incremental import (
        streaming_incremental_arrival_gate,
    )

    key = "spark.sql.adaptive.enabled"
    assert spark.conf.get(key) == "true"
    DataFrame = type(spark.range(1))  # the concrete (classic) class
    real_join = DataFrame.join
    failed_sessions = []

    def join_fails_with_aqe_off(self, *args, **kwargs):
        # only the gate body switches AQE off, so this fails inside it
        if self.sparkSession.conf.get(key) == "false":
            failed_sessions.append(self.sparkSession)
            raise RuntimeError("planted gate-body failure")
        return real_join(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "join", join_fails_with_aqe_off)
    with pytest.raises(Exception):
        streaming_incremental_arrival_gate(spark, sf_dir)
    monkeypatch.undo()
    assert failed_sessions, "the gate body never ran with AQE off"
    assert failed_sessions[0].conf.get(key) == "true"
    assert spark.conf.get(key) == "true"


def test_arrival_gate_small_drop_prunes_index_scan(spark, sf_dir):
    """A small drop's probe must push its band In-set into the bucketed
    index SCAN (row-group skipping at production file sizes) — the
    'reads only touched index, not the index' half of the r12 gate fix;
    the shuffle-free half is pinned by the plan-walk test above."""
    import re

    from ting_data_etl_spark.operators.incremental import (
        PROBE_PRUNE_KEYS,
        _standing_capped_index,
    )

    idx = _standing_capped_index(spark, sf_dir)
    vals = [r["band"] for r in idx.select("band").limit(20).collect()]
    key = "spark.sql.parquet.pushdown.inFilterThreshold"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(PROBE_PRUNE_KEYS + 1))
    try:
        plan = (
            idx.filter(F.col("band").isin(vals))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.unset(key) if prev is None else spark.conf.set(key, prev)
    assert re.search(r"PushedFilters: \[In\(band", plan), plan[:2000]


def test_bucketed_index_survives_purge_under_live_session(spark, sf_dir):
    """purge_stages deletes stage FILES but not the session catalog's
    table entry — the index helper must detect the dangling registration
    and rebuild instead of serving a table whose files are gone."""
    from ting_data_etl_spark.operators.dedup import purge_stages
    from ting_data_etl_spark.operators.incremental import (
        _standing_capped_index,
    )

    n_before = _standing_capped_index(spark, sf_dir).count()
    purge_stages(sf_dir)
    rebuilt = _standing_capped_index(spark, sf_dir)
    assert rebuilt.count() == n_before


def test_bucketed_index_self_heals_stale_partial(spark, sf_dir):
    """A crashed writer's torn stage dir (files present, no _SUCCESS) must
    be swept and republished, not wedge every later build on ENOTEMPTY —
    the same self-heal contract as dedup._publish_stage."""
    import os
    import shutil

    from ting_data_etl_spark.operators.dedup import purge_stages
    from ting_data_etl_spark.operators.incremental import (
        _standing_capped_index,
    )

    n = _standing_capped_index(spark, sf_dir).count()
    # fabricate the crash: strip _SUCCESS from the published artifact and
    # drop the catalog entry so the helper takes the cold-build path
    import glob
    import tempfile

    stage_root = os.path.join(tempfile.gettempdir(), "ting_cc_stage")
    dirs = [
        d
        for d in glob.glob(os.path.join(stage_root, "*", "incr_bandsidx_*"))
        if os.path.isdir(d) and not d.endswith(".torn")
    ]
    assert dirs, "no published index stage found"
    for d in dirs:
        s = os.path.join(d, "_SUCCESS")
        if os.path.exists(s):
            os.remove(s)
    for t in spark.catalog.listTables():
        if t.name.startswith("incr_bandsidx_"):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    rebuilt = _standing_capped_index(spark, sf_dir)
    assert rebuilt.count() == n


def test_manifest_update_equals_fromscratch_rollup(spark, sf_dir):
    """The XOR-delta update == the from-scratch digest rollup over the
    post-merge selection — the algebra check, engine-internal (the DuckDB
    twin is the registered oracle; this pins Spark against Spark so a
    rollup/update drift is localized to the delta algebra)."""
    from ting_data_etl_spark.operators.incremental import (
        _batch_pred,
        _digest_rollup_df,
        _standing_ledger,
        corpus_incremental_selection,
        incremental_manifest_update,
    )
    from ting_data_etl_spark.operators.sampling import budget_ledger_df
    from ting_data_etl_spark.sources.tables import load_table

    post = corpus_incremental_selection(spark, sf_dir).filter(
        F.col("decision") == "selected"
    )
    batch = load_table(spark, sf_dir, "documents").filter(_batch_pred())
    prices = _standing_ledger(spark, sf_dir).select(
        "doc_id", "n_toks"
    ).unionByName(budget_ledger_df(batch).select("doc_id", "n_toks"))
    full = _digest_rollup_df(post.select("doc_id").join(prices, "doc_id"))
    upd = incremental_manifest_update(spark, sf_dir)
    assert sorted(map(tuple, upd.collect())) == sorted(
        map(tuple, full.collect())
    )
    assert upd.count() > 0


def test_manifest_xor_algebra_planted(spark):
    """Planted set-digest algebra: remove two members (one emptying its
    shard), add one, adjust one's tokens — the folded digest must equal the
    from-scratch rollup of the edited set, and the emptied shard must drop
    out of the relation entirely."""
    from ting_data_etl_spark.operators.incremental import (
        _apply_manifest_delta,
        _digest_rollup_df,
        _manifest_shard_col,
    )

    rows = [(i, 100 + i) for i in range(1, 41)]
    base = spark.createDataFrame(rows, "doc_id long, n_toks long")
    # pick a doc alone in its shard so its removal empties the shard
    shards = {
        r["doc_id"]: r["s"]
        for r in base.select(
            "doc_id", _manifest_shard_col(F.col("doc_id")).alias("s")
        ).collect()
    }
    from collections import Counter

    counts = Counter(shards.values())
    lone = next(d for d, s in shards.items() if counts[s] == 1)
    other = next(d for d in shards if d != lone)
    retuned = next(d for d in shards if d not in (lone, other))

    removes = base.filter(F.col("doc_id").isin([lone, other]))
    adds = spark.createDataFrame([(999, 555)], "doc_id long, n_toks long")
    retoken = spark.createDataFrame(
        [(retuned, 7)], "doc_id long, d_toks long"
    )
    folded = _apply_manifest_delta(
        _digest_rollup_df(base), adds, removes, retoken
    )
    edited = (
        base.filter(~F.col("doc_id").isin([lone, other]))
        .withColumn(
            "n_toks",
            F.when(F.col("doc_id") == retuned, F.col("n_toks") + 7).otherwise(
                F.col("n_toks")
            ),
        )
        .unionByName(adds)
    )
    assert sorted(map(tuple, folded.collect())) == sorted(
        map(tuple, _digest_rollup_df(edited).collect())
    )
    assert shards[lone] not in [r["shard"] for r in folded.collect()]


def test_manifest_standing_state_is_standing_only(spark, sf_dir):
    """The staged standing selection (and therefore the digest) must not
    contain batch docs, and the day's delta must be batch-scale — the
    O(delta) claim's two preconditions."""
    from ting_data_etl_spark.operators.dedup import (
        INCR_BATCH_MOD,
        INCR_BATCH_REM,
    )
    from ting_data_etl_spark.operators.incremental import (
        _standing_selection,
        corpus_incremental_selection,
    )

    st = _standing_selection(spark, sf_dir)
    assert (
        st.filter(
            F.pmod(F.col("doc_id"), F.lit(INCR_BATCH_MOD)) == INCR_BATCH_REM
        ).count()
        == 0
    )
    post = corpus_incremental_selection(spark, sf_dir).filter(
        F.col("decision") == "selected"
    )
    n_corpus = post.count()
    adds = post.select("doc_id").join(st, "doc_id", "left_anti").count()
    removes = st.join(post.select("doc_id"), "doc_id", "left_anti").count()
    # a 10% arrival batch cannot flip more than a fraction of the corpus
    assert 0 < adds + removes < n_corpus // 2


def test_shard_sink_delta_copy_on_write(spark, sf_dir):
    """The COW snapshot writes ONLY delta-touched shards (one part-file
    each), references untouched standing files verbatim, and its read-back
    digest is bit-equal to the maintained manifest."""
    import glob
    import os
    import tempfile

    from ting_data_etl_spark.operators.incremental import (
        _manifest_shard_col,
        _standing_selection,
        corpus_incremental_selection,
        incremental_manifest_update,
        incremental_shard_sink_delta,
    )

    sink = incremental_shard_sink_delta(spark, sf_dir)
    man = incremental_manifest_update(spark, sf_dir)
    assert sorted(map(tuple, sink.collect())) == sorted(
        map(tuple, man.collect())
    )

    post = corpus_incremental_selection(spark, sf_dir).filter(
        F.col("decision") == "selected"
    )
    st = _standing_selection(spark, sf_dir)
    delta = post.select("doc_id").join(st, "doc_id", "left_anti").unionByName(
        st.join(post.select("doc_id"), "doc_id", "left_anti")
    )
    touched = {
        r["s"]
        for r in delta.select(
            _manifest_shard_col(F.col("doc_id")).alias("s")
        )
        .distinct()
        .collect()
    }
    run = max(
        glob.glob(os.path.join(tempfile.gettempdir(), "ting_shard_cow", "*")),
        key=os.path.getmtime,
    )
    written = {
        int(os.path.basename(d).split("=")[1])
        for d in glob.glob(os.path.join(run, "shard=*"))
    }
    assert written <= touched  # never rewrites an untouched shard
    for d in glob.glob(os.path.join(run, "shard=*")):
        assert len(glob.glob(os.path.join(d, "part-*.parquet"))) == 1


def test_manifest_stage_keys_rotate_on_shard_retune(sf_dir):
    """The digest and shard-file stages bake the shard column into their
    rows/layout, and _incr_token() does not carry N_SHARDS — so a
    shard-count retune must rotate BOTH stage paths (else a retuned run
    serves 16-shard staged state)."""
    import ting_data_etl_spark.operators.sampling as SA
    from ting_data_etl_spark.operators.incremental import (
        _incr_stage_path,
        _n_shards,
    )

    tables = ("documents", "embeddings")
    base = [
        _incr_stage_path(sf_dir, f"{n}_{_n_shards()}", tables)
        for n in ("mandigest", "shardfiles")
    ]
    prev = SA.N_SHARDS
    SA.N_SHARDS = 256
    try:
        retuned = [
            _incr_stage_path(sf_dir, f"{n}_{_n_shards()}", tables)
            for n in ("mandigest", "shardfiles")
        ]
    finally:
        SA.N_SHARDS = prev
    assert all(a != b for a, b in zip(base, retuned))


def test_manifest_digest_folds_forward_across_days(spark):
    """Two chained delta folds over planted selections: day 2 folds onto
    DAY 1'S OUTPUT (not a rebuilt standing digest), and the result equals
    the from-scratch rollup of the day-2 selection — the forward-fold
    property that makes the digest a running state, with a doc removed on
    day 1 RE-ADDED on day 2 (XOR self-inverse twice over)."""
    from ting_data_etl_spark.operators.incremental import (
        _apply_manifest_delta,
        _digest_rollup_df,
    )

    def df(ids):
        return spark.createDataFrame(
            [(i, 100 + i) for i in sorted(ids)], "doc_id long, n_toks long"
        )

    s0 = set(range(1, 31))
    # day 1: add 31-35, remove 3 and 7
    adds1, rem1 = {31, 32, 33, 34, 35}, {3, 7}
    s1 = (s0 | adds1) - rem1
    d1 = _apply_manifest_delta(_digest_rollup_df(df(s0)), df(adds1), df(rem1))
    assert sorted(map(tuple, d1.collect())) == sorted(
        map(tuple, _digest_rollup_df(df(s1)).collect())
    )
    # day 2 folds onto d1: re-add 7, add 36, remove 31 (a day-1 add)
    adds2, rem2 = {7, 36}, {31}
    s2 = (s1 | adds2) - rem2
    d2 = _apply_manifest_delta(d1, df(adds2), df(rem2))
    assert sorted(map(tuple, d2.collect())) == sorted(
        map(tuple, _digest_rollup_df(df(s2)).collect())
    )


# --- standing-state REBUILD lifecycle (VERDICT r12 #1) ------------------------
def _reindex_scratch_corpus(spark, tmp_path) -> str:
    """A planted-drift corpus for the rebuild lifecycle.

    Embedding regimes: regime A (the historical distribution) and regime B
    (the shifted arrivals). Generation-0's batch (ids ≡ 1 mod 5) is PURE
    regime B while generation-0's standing corpus holds only a sliver of B
    — the drift guard must trip. Generation-1's standing corpus absorbs
    those arrivals (B share 1/4) and its batch (ids ≡ 2 mod 5) is HALF B —
    the post-rebuild mix the guard must accept (share-based TV 1/4 < 0.5,
    vs 7/8 on day 0). Texts are unique letters-only words (gopher-passing)
    with a planted benchmark phrase so the contamination leg is exercised.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 300
    digits = "abcdefghij"

    def letters(v: int) -> str:
        return "".join(digits[int(c)] for c in str(v))

    phrase = " ".join(f"bench{digits[k]}mark" for k in range(10))
    docs, embs = [], []
    for i in range(n):
        words = [f"w{letters(i)}{letters(j)}" for j in range(25)]
        text = " ".join(words)
        if i % 13 == 0 or i % 41 == 0:
            text = text + " " + phrase
        docs.append((i, text, "en", f"src{i % 3}", len(text)))
        is_b = (i % 5 == 1) or (i % 10 == 2)
        base = [1.0] * 64
        if is_b:
            base[1] = 9.0
        else:
            base[0] = 9.0
        # jitter varies WITHIN an id class (i // 5 spans all classes): a
        # class-constant jitter would park each class's blob members on
        # one private point and cell occupancy would stop tracking the
        # regime shares the fixture plants
        base[2] = 1.0 + (((i // 5) * 3) % 7) * 0.01
        embs.append((i, base, i % 3))

    d = str(tmp_path / "reindex_corpus")
    import os

    os.makedirs(d, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in docs], pa.int64()),
                "text": [r[1] for r in docs],
                "lang": [r[2] for r in docs],
                "source": [r[3] for r in docs],
                "n_chars": pa.array([r[4] for r in docs], pa.int64()),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in embs], pa.int64()),
                "embedding": pa.array(
                    [r[1] for r in embs], pa.list_(pa.float32())
                ),
                "label": pa.array([r[2] for r in embs], pa.int32()),
            }
        ),
        os.path.join(d, "embeddings.parquet"),
    )
    return d


def test_reindex_drift_lifecycle(spark, tmp_path):
    """The full lifecycle the rebuild verb exists for: planted drift trips
    the guard on day 0 → ``corpus_reindex`` rebuilds the standing state
    under generation 1 → the next batch no longer trips AND its decisions
    re-converge with from-scratch → a second rebuild epoch retires
    generation 0 (the retention sweep is real, not a no-op)."""
    import os
    import warnings

    from ting_data_etl_spark.operators.curation import corpus_final_selection
    from ting_data_etl_spark.operators.dedup import (
        _stage_dir,
        purge_stages,
    )
    from ting_data_etl_spark.operators.incremental import (
        corpus_incremental_selection,
        corpus_reindex,
    )

    scratch = _reindex_scratch_corpus(spark, tmp_path)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    def gen_dirs(gen: int) -> list[str]:
        root = os.path.dirname(_stage_dir(scratch, ["x"]))
        if not os.path.isdir(root):
            return []
        import re

        out = []
        for d in os.listdir(root):
            for p in ("incrsel", "incr_sel_cc", "incrman_cc",
                      "incr_bandsidx"):
                if d.startswith(p + "_"):
                    m = re.match(r"g(\d+)_", d[len(p) + 1 :])
                    if (int(m.group(1)) if m else 0) == gen:
                        out.append(d)
                    break
        return out

    try:
        full = rows(corpus_final_selection(spark, scratch))

        # day 0: the arriving batch is pure regime B — the guard trips
        with pytest.warns(UserWarning, match="pinned coarse model"):
            day0 = rows(corpus_incremental_selection(spark, scratch, gen=0))
        assert day0 == full  # drifted, but still oracle-exact

        # REBUILD to generation 1; the post-rebuild batch must NOT trip
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            day1 = rows(corpus_reindex(spark, scratch, gen=1))
        tripped = [
            w for w in caught if "pinned coarse model" in str(w.message)
        ]
        assert not tripped, [str(w.message) for w in tripped]
        # re-convergence: the rebuilt state's decisions == from-scratch
        assert day1 == full
        # retention keeps current + previous: gen 0 survives the first epoch
        assert gen_dirs(0) and gen_dirs(1)

        # second rebuild epoch: generation 0 must be RETIRED by the sweep
        day2 = rows(corpus_reindex(spark, scratch, gen=2))
        assert day2 == full
        assert not gen_dirs(0), gen_dirs(0)
        assert gen_dirs(1) and gen_dirs(2)
    finally:
        purge_stages(scratch)


def test_snapshot_catalog_cow_sharing_and_gc(spark, sf_dir):
    """The catalog must RECORD the copy-on-write sharing: day 1 references
    day-0 files verbatim for every untouched shard and rewritten dirs for
    touched ones; retiring day 0 reclaims EXACTLY the touched shards'
    old versions (the reference-counted GC rule); and each day's catalog
    digest rows equal the rollup of the files that day references."""
    import re

    from ting_data_etl_spark.operators.incremental import (
        _cow_delta_parts,
        _layout_digest_rollup,
        _snapshot_catalog,
        snapshot_gc_candidates,
    )

    cat = spark.read.parquet(_snapshot_catalog(spark, sf_dir))
    rows = cat.collect()
    day0 = {r["shard"]: r for r in rows if r["snapshot_id"] == 0}
    day1 = {r["shard"]: r for r in rows if r["snapshot_id"] == 1}
    _, _, _, _, touched = _cow_delta_parts(spark, sf_dir)
    assert touched  # the fixture's arrivals must touch something

    # COW sharing recorded: untouched shards reference day-0 dirs verbatim
    for s, r in day1.items():
        if s in touched:
            assert r["file_ref"] != day0[s]["file_ref"], s
        else:
            assert r["file_ref"] == day0[s]["file_ref"], s

    # GC rule: retiring day 0 reclaims exactly the touched shards' old dirs
    gc = {
        r["file_ref"]
        for r in snapshot_gc_candidates(cat, retained=[1]).collect()
    }
    want = {
        day0[s]["file_ref"]
        for s in day0
        if s in touched or s not in day1  # emptied shards also unreferenced
    }
    assert gc == want
    # ...and retaining both days reclaims nothing
    assert snapshot_gc_candidates(cat, retained=[0, 1]).count() == 0

    # each day's digest rows == rollup of the files that day references
    for day, want_rows in ((0, day0), (1, day1)):
        refs = sorted({r["file_ref"] for r in want_rows.values()})
        back = (
            spark.read.schema("doc_id long, n_toks long")
            .parquet(*refs)
            .withColumn(
                "shard",
                F.regexp_extract(
                    F.input_file_name(), r"shard=(\d+)", 1
                ).cast("int"),
            )
        )
        got = {
            r["shard"]: r for r in _layout_digest_rollup(back).collect()
        }
        # day-1 reads of shared dirs see DAY-0 rows for untouched shards
        # only; restrict the comparison to the shards the day lists
        for s, w in want_rows.items():
            g = got[s]
            assert (g["n_docs"], g["total_tokens"], g["ids_xor"]) == (
                w["n_docs"],
                w["total_tokens"],
                w["ids_xor"],
            ), s


def test_sweep_respects_retained_catalog_references(tmp_path):
    """The sweep must consult the snapshot catalog's reference count
    (review r13): a gen-0 dir referenced by a RETAINED generation's
    catalog survives retirement; an unreferenced sibling is swept."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    import ting_data_etl_spark.operators.dedup as D
    from ting_data_etl_spark.operators.incremental import _sweep_generations

    sf = str(tmp_path / "ds")
    os.makedirs(sf)
    root = os.path.dirname(D._stage_dir(sf, ["x"]))
    # the stage root lives outside tmp_path, keyed by tmp_path's hash: a
    # run that got the same pytest-N dir earlier leaves it behind
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    referenced = os.path.join(root, "incrsel_shardfiles_16_aa")
    unreferenced = os.path.join(root, "incrsel_ledger_bb")
    retained_dir = os.path.join(root, "incrsel_g1_ledger_cc")
    for d in (referenced, unreferenced, retained_dir):
        os.makedirs(d)
    # a RETAINED (gen-1) catalog referencing the gen-0 shard dir
    # (published: real catalogs always carry _SUCCESS via _publish_stage —
    # the fail-closed reader ignores unpublished tmp/partial dirs)
    cat = os.path.join(root, "incrsel_g1_snapcat_16_dd")
    os.makedirs(cat)
    pq.write_table(
        pa.table({"file_ref": [referenced + "/shard=3"]}),
        os.path.join(cat, "part-0.parquet"),
    )
    open(os.path.join(cat, "_SUCCESS"), "w").close()
    swept = _sweep_generations(sf, keep=(1, 2))
    assert os.path.exists(referenced), "catalog-referenced dir was swept"
    assert not os.path.exists(unreferenced)
    assert os.path.exists(retained_dir) and os.path.exists(cat)
    assert "incrsel_ledger_bb" in swept
    assert "incrsel_shardfiles_16_aa" not in swept


def test_sweep_fails_closed_on_unreadable_retained_catalog(tmp_path):
    """ADVICE r13: a PUBLISHED but unreadable catalog in a RETAINED
    generation must ABORT the sweep (nothing deleted) — never shrink the
    protection set and delete dirs a live catalog may still reference."""
    import os

    import ting_data_etl_spark.operators.dedup as D
    from ting_data_etl_spark.operators.incremental import _sweep_generations

    sf = str(tmp_path / "ds")
    os.makedirs(sf)
    root = os.path.dirname(D._stage_dir(sf, ["x"]))
    # the stage root lives outside tmp_path, keyed by tmp_path's hash: a
    # run that got the same pytest-N dir earlier leaves it behind
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    stale = os.path.join(root, "incrsel_ledger_bb")  # gen 0: sweep target
    os.makedirs(stale)
    # a RETAINED gen-1 catalog that is published (_SUCCESS) but corrupt
    cat = os.path.join(root, "incrsel_g1_snapcat_16_dd")
    os.makedirs(cat)
    with open(os.path.join(cat, "part-0.parquet"), "wb") as f:
        f.write(b"not parquet at all")
    open(os.path.join(cat, "_SUCCESS"), "w").close()
    # the abort is LOUD (ADVICE r14): an empty sweep list alone is
    # indistinguishable from "nothing to sweep"
    with pytest.warns(RuntimeWarning, match="sweep DEFERRED"):
        swept = _sweep_generations(sf, keep=(1, 2))
    assert swept == []  # aborted: fail closed
    assert os.path.exists(stale), "sweep deleted despite unreadable catalog"
    # an UNPUBLISHED corrupt dir (no _SUCCESS: a racing writer's partial)
    # is not a live catalog — the sweep proceeds normally without it
    os.remove(os.path.join(cat, "_SUCCESS"))
    swept = _sweep_generations(sf, keep=(1, 2))
    assert "incrsel_ledger_bb" in swept and not os.path.exists(stale)


def test_gen_rem_rejects_wrapping_generations():
    """ADVICE r13: generation >= INCR_BATCH_MOD would silently alias an
    earlier generation's batch/standing split — rejected loudly."""
    import pytest as _pytest

    from ting_data_etl_spark.operators.dedup import INCR_BATCH_MOD
    from ting_data_etl_spark.operators.incremental import _gen_rem

    assert _gen_rem(0) != _gen_rem(INCR_BATCH_MOD - 1)
    for bad in (-1, INCR_BATCH_MOD, INCR_BATCH_MOD + 3):
        with _pytest.raises(ValueError):
            _gen_rem(bad)


def test_multiday_catalog_forward_fold(spark, tmp_path):
    """VERDICT r13 #2: the catalog's forward fold is day-N-generic. Drive
    THREE days of arbitrary deltas through the production fold
    (:func:`_fold_catalog_day` + the COW rewrite), then verify every day
    still reconstructs from the catalog alone — digest rows, file refs,
    and the reference-counted GC rule across all three days."""
    import os

    from pyspark.sql import functions as F

    from ting_data_etl_spark.operators.incremental import (
        _catalog_snapshot_read,
        _cow_rewritten,
        _digest_rollup_df,
        _fold_catalog_day,
        _manifest_shard_col,
        snapshot_gc_candidates,
    )

    store = str(tmp_path / "store")

    def price(i: int) -> int:
        return i % 37 + 5

    def mk(ids):
        df = spark.createDataFrame(
            [(int(i), price(i)) for i in sorted(ids)],
            "doc_id long, n_toks long",
        )
        return df.withColumn("shard", _manifest_shard_col(F.col("doc_id")))

    members = set(range(200))
    standing = mk(members).localCheckpoint(eager=True)
    day0 = os.path.join(store, "day0")
    standing.repartition(F.col("shard")).write.partitionBy("shard").parquet(
        day0
    )
    cat = (
        _digest_rollup_df(standing.select("doc_id", "n_toks"))
        .select(
            F.lit(0).alias("snapshot_id"),
            F.col("shard").cast("int").alias("shard"),
            F.concat(
                F.lit(day0 + "/shard="), F.col("shard").cast("string")
            ).alias("file_ref"),
            "n_docs",
            "total_tokens",
            "ids_xor",
        )
        .localCheckpoint(eager=True)
    )
    catalog = cat
    day_members = {0: set(members)}
    deltas = {
        1: (set(range(200, 230)), {i for i in members if i % 11 == 0}),
        2: (set(range(300, 320)), {i for i in range(230) if i % 13 == 1}),
    }
    for day in (1, 2):
        add_ids, rm_ids = deltas[day]
        rm_ids &= day_members[day - 1]
        adds, removes = mk(add_ids), mk(rm_ids)
        touched = sorted(
            r["shard"]
            for r in adds.select("shard")
            .unionByName(removes.select("shard"))
            .distinct()
            .collect()
        )
        day_dir = os.path.join(store, f"day{day}")
        _cow_rewritten(standing, adds, removes, touched).write.partitionBy(
            "shard"
        ).parquet(day_dir)
        cat = _fold_catalog_day(
            cat, day, day_dir, adds, removes, touched
        ).localCheckpoint(eager=True)
        catalog = catalog.unionByName(cat)
        day_members[day] = (day_members[day - 1] - rm_ids) | add_ids
        standing = mk(day_members[day]).localCheckpoint(eager=True)
    catalog = catalog.localCheckpoint(eager=True)

    # every day reconstructs from the catalog alone, bit-exactly
    for day, mem in day_members.items():
        want = {
            (r["shard"], r["n_docs"], r["total_tokens"], r["ids_xor"])
            for r in _digest_rollup_df(mk(mem).select("doc_id", "n_toks"))
            .collect()
        }
        got = {
            tuple(r)
            for r in _catalog_snapshot_read(spark, catalog, day).collect()
        }
        assert got == want, f"day {day} reconstruction drifted"

    # catalog rows = one per (day, non-empty shard)
    rows = catalog.collect()
    assert len(rows) == sum(
        1
        for r in rows  # tautology guard: every row has n_docs > 0
        if r["n_docs"] > 0
    )

    # COW sharing across days: a shard untouched on day 2 inherits the
    # day-1 ref verbatim (which may itself be the day-0 dir)
    ref = {
        (r["snapshot_id"], r["shard"]): r["file_ref"] for r in rows
    }
    d2_touched = {
        int(p.rsplit("shard=", 1)[1])
        for (d, _s), p in ref.items()
        if d == 2 and "/day2/" in p
    }
    for (d, s), p in ref.items():
        if d == 2 and s not in d2_touched and (1, s) in ref:
            assert p == ref[(1, s)], (s, p)

    # GC rule across three days: retaining the latest day only, the
    # candidates are exactly the refs no day-2 row carries
    live = {p for (d, _s), p in ref.items() if d == 2}
    allrefs = set(ref.values())
    got_gc = {
        r["file_ref"]
        for r in snapshot_gc_candidates(catalog, retained=[2]).collect()
    }
    assert got_gc == allrefs - live
    assert snapshot_gc_candidates(catalog, retained=[0, 1, 2]).count() == 0


def test_snapshot_retire_reclaims_candidates_and_survivor_verifies(
    spark, sf_dir
):
    """VERDICT r13 #1 + r14 #2: on the THREE-day store, retire(day 0)
    then retire(day 1) each reclaim EXACTLY the refs newly made exclusive
    by shrinking the retained set (GC-candidate equality at every step),
    every retired day's time-travel read fails loudly while every
    surviving day still reconstructs, markers record each step, warm
    calls never re-delete, and the latest day is never retirable."""
    import json
    import os
    import shutil

    import pytest as _pytest

    from ting_data_etl_spark.operators.incremental import (
        RETIRE_STORE_DAYS,
        _catalog_snapshot_read,
        _snapshot_store,
        incremental_snapshot_retire,
        retire_snapshot_day,
        snapshot_gc_candidates,
    )

    # force a cold retire cycle (a prior run may have left a retired store)
    shutil.rmtree(_snapshot_store(spark, sf_dir), ignore_errors=True)
    store = _snapshot_store(spark, sf_dir)
    cat = spark.read.parquet(os.path.join(store, "catalog"))
    days = sorted(
        r["snapshot_id"]
        for r in cat.select("snapshot_id").distinct().collect()
    )
    assert days == list(range(RETIRE_STORE_DAYS)) and len(days) >= 3

    def cands_for(retained):
        return {
            r["file_ref"]
            for r in snapshot_gc_candidates(cat, retained=retained).collect()
        }

    def refs_of(day):
        return sorted(
            r["file_ref"]
            for r in cat.filter(F.col("snapshot_id") == day)
            .select("file_ref")
            .distinct()
            .collect()
        )

    # the latest day is never retirable; unknown days fail loudly
    with _pytest.raises(ValueError, match="latest"):
        retire_snapshot_day(spark, sf_dir, RETIRE_STORE_DAYS - 1)
    with _pytest.raises(ValueError, match="not in catalog"):
        retire_snapshot_day(spark, sf_dir, 99)

    # --- step 1: retire day 0 -------------------------------------------
    want0 = cands_for([1, 2])
    assert want0, "fixture must produce day-0-exclusive dirs"
    got0 = retire_snapshot_day(spark, sf_dir, 0)
    assert set(got0) == want0
    for p in want0:
        assert not os.path.exists(p), f"candidate {p} survived step 1"
    for d in (1, 2):
        for p in refs_of(d):
            assert os.path.isdir(p), f"live ref {p} reclaimed in step 1"
    with _pytest.raises(FileNotFoundError):
        _catalog_snapshot_read(spark, cat, 0)
    # surviving days still reconstruct
    assert _catalog_snapshot_read(spark, cat, 1).count() > 0
    assert _catalog_snapshot_read(spark, cat, 2).count() > 0

    # --- step 2: retire day 1 -------------------------------------------
    # newly exclusive = refs only {0,1} used, minus what step 1 reclaimed
    want1 = cands_for([2]) - want0
    assert want1, "day-2 must share SOME but not all of day 1 (COW)"
    got1 = retire_snapshot_day(spark, sf_dir, 1)
    assert set(got1) == want1
    for p in want1:
        assert not os.path.exists(p), f"candidate {p} survived step 2"
    # COW sharing honored: every day-2 ref intact, including the ones
    # inherited verbatim from day 1 (untouched shards)
    shared = set(refs_of(1)) & set(refs_of(2))
    assert shared, "fixture lost the untouched-shard sharing"
    for p in refs_of(2):
        assert os.path.isdir(p), f"live ref {p} reclaimed in step 2"
    with _pytest.raises(FileNotFoundError):
        _catalog_snapshot_read(spark, cat, 1)
    assert _catalog_snapshot_read(spark, cat, 2).count() > 0

    # markers record each step; warm calls never re-delete
    for day, want in ((0, sorted(want0)), (1, sorted(want1))):
        with open(os.path.join(store, f"_RETIRED_{day}")) as f:
            assert json.load(f)["reclaimed"] == want
    m0 = os.path.getmtime(os.path.join(store, "_RETIRED_0"))
    m1 = os.path.getmtime(os.path.join(store, "_RETIRED_1"))
    # the registered query = the full chain; warm here, returns day 2
    got = {
        tuple(r) for r in incremental_snapshot_retire(spark, sf_dir).collect()
    }
    assert got == {
        tuple(r) for r in _catalog_snapshot_read(spark, cat, 2).collect()
    }
    assert os.path.getmtime(os.path.join(store, "_RETIRED_0")) == m0
    assert os.path.getmtime(os.path.join(store, "_RETIRED_1")) == m1


def test_snapshot_compact_consolidates_and_preserves_content(
    spark, sf_dir
):
    """r15 compaction verb: the latest day's fragmented COW file set
    consolidates into ONE generation dir with bit-identical digests; the
    fragmented source day becomes retirable and retire-after-compact
    reclaims exactly its exclusive dirs while the compacted snapshot
    still reads; warm calls are no-ops."""
    import json
    import os
    import shutil

    import pytest as _pytest

    from ting_data_etl_spark.operators.incremental import (
        COMPACT_SNAPSHOT_ID,
        COMPACT_SOURCE_DAY,
        _catalog_snapshot_read,
        _snapshot_store,
        _store_catalog,
        compact_snapshot_store,
        incremental_snapshot_compact,
        retire_snapshot_day,
        snapshot_gc_candidates,
    )

    shutil.rmtree(_snapshot_store(spark, sf_dir), ignore_errors=True)
    store = _snapshot_store(spark, sf_dir)
    base_cat = _store_catalog(spark, store)
    pre = sorted(
        map(tuple, _catalog_snapshot_read(spark, base_cat, COMPACT_SOURCE_DAY).collect())
    )
    src_refs = {
        r["file_ref"]
        for r in base_cat.filter(F.col("snapshot_id") == COMPACT_SOURCE_DAY)
        .select("file_ref")
        .distinct()
        .collect()
    }
    # the fixture's latest day is genuinely fragmented: refs span >1 dir
    assert len({p.rsplit("/shard=", 1)[0] for p in src_refs}) > 1

    got = sorted(map(tuple, incremental_snapshot_compact(spark, sf_dir).collect()))
    assert got == pre, "compaction changed content"

    cat = _store_catalog(spark, store)
    new_refs = sorted(
        r["file_ref"]
        for r in cat.filter(F.col("snapshot_id") == COMPACT_SNAPSHOT_ID)
        .select("file_ref")
        .distinct()
        .collect()
    )
    compact_dir = os.path.join(store, f"compact{COMPACT_SOURCE_DAY}")
    assert new_refs and all(
        p.rsplit("/shard=", 1)[0] == compact_dir for p in new_refs
    ), "compacted refs must live in ONE generation dir"
    for p in new_refs:
        assert os.path.isdir(p)
        # TRUE consolidation: exactly one data file per shard (the shard
        # repartition before the write — without it the output inherits
        # the source's files-per-shard and compaction defragments nothing)
        parts = [f for f in os.listdir(p) if f.startswith("part-")]
        assert len(parts) == 1, (p, parts)
    # marker makes warm calls no-ops (same dir, catalog rows not doubled)
    marker = os.path.join(store, f"_COMPACTED_{COMPACT_SOURCE_DAY}")
    with open(marker) as f:
        assert json.load(f)["snapshot_id"] == COMPACT_SNAPSHOT_ID
    m0 = os.path.getmtime(marker)
    assert compact_snapshot_store(spark, sf_dir) == compact_dir
    assert os.path.getmtime(marker) == m0
    n_rows = _store_catalog(spark, store).filter(
        F.col("snapshot_id") == COMPACT_SNAPSHOT_ID
    ).count()
    assert n_rows == len(new_refs)

    # every pre-compact day still reconstructs (compaction retires nothing)
    for d in range(COMPACT_SOURCE_DAY + 1):
        assert _catalog_snapshot_read(spark, cat, d).count() > 0

    # retire-after-compact: the fragmented source day is now retirable;
    # candidates = its exclusive dirs, never the compact generation
    days = sorted(
        r["snapshot_id"] for r in cat.select("snapshot_id").distinct().collect()
    )
    assert days[-1] == COMPACT_SNAPSHOT_ID
    for d in range(COMPACT_SOURCE_DAY):
        retire_snapshot_day(spark, sf_dir, d)
    want = {
        r["file_ref"]
        for r in snapshot_gc_candidates(
            cat, retained=[COMPACT_SNAPSHOT_ID]
        ).collect()
        if os.path.exists(r["file_ref"])
    }
    got_refs = set(retire_snapshot_day(spark, sf_dir, COMPACT_SOURCE_DAY))
    assert got_refs == want
    assert all(not p.startswith(compact_dir) for p in got_refs)
    with _pytest.raises(FileNotFoundError):
        _catalog_snapshot_read(spark, cat, COMPACT_SOURCE_DAY)
    after = sorted(
        map(tuple, _catalog_snapshot_read(spark, cat, COMPACT_SNAPSHOT_ID).collect())
    )
    assert after == pre
    # the compacted latest is itself never retirable
    with _pytest.raises(ValueError, match="latest"):
        retire_snapshot_day(spark, sf_dir, COMPACT_SNAPSHOT_ID)


class TestIndexBucketsRetune:
    """VERDICT r13 #3: the standing band index derives its bucket count
    from corpus size via ``capacity.index_buckets`` — wired in like
    SRP_BITS/SIMHASH_BITS/KMEANS_LISTS, not docstring folklore."""

    def test_fixture_floors_to_registered_count(self, sf_dir):
        import ting_data_etl_spark.operators.incremental as I

        assert I._index_buckets_for(sf_dir) == I.INDEX_BUCKETS
        # pyarrow footer count, no Spark job — and memoized
        assert I._table_rows(sf_dir, "documents") == 500
        assert I._table_rows(sf_dir, "documents") == 500

    def test_retune_rebuilds_at_derived_count_same_semantics(
        self, spark, sf_dir, monkeypatch
    ):
        """Shrinking the byte target (modeling corpus growth past the
        threshold) must (1) raise the derived count, (2) rotate the
        fingerprint so a NEW bucketed table is built at that count, and
        (3) leave the index CONTENT bit-identical — bucket count is
        layout, never semantics."""
        import glob
        import os
        import re

        from ting_data_etl_spark import capacity
        import ting_data_etl_spark.operators.incremental as I
        from ting_data_etl_spark.operators.dedup import _stage_dir

        rows_floor = sorted(
            map(tuple, I._standing_capped_index(spark, sf_dir).collect())
        )
        monkeypatch.setattr(capacity, "INDEX_TARGET_BUCKET_BYTES", 512)
        derived = I._index_buckets_for(sf_dir)
        # 500 docs x 8 bands x 16 B / 512 B = 125 -> next power of two
        assert derived == 128 > I.INDEX_BUCKETS
        t = I._standing_capped_index(spark, sf_dir)
        assert sorted(map(tuple, t.collect())) == rows_floor
        # the staged dir carries the derived count in its fingerprint and
        # its part files span more than the floor's bucket ids
        root = os.path.dirname(_stage_dir(sf_dir, ["x"]))
        dirs = [
            d
            for d in os.listdir(root)
            if d.startswith("incr_bandsidx_") and f"_{derived}_" in d
        ]
        assert dirs, os.listdir(root)
        buckets_seen = {
            int(m.group(1))
            for d in dirs
            for f in glob.glob(os.path.join(root, d, "part-*"))
            for m in [re.search(r"_(\d{5})(?:\.|$|_)", os.path.basename(f))]
            if m
        }
        assert max(buckets_seen) >= I.INDEX_BUCKETS, buckets_seen


class TestIncrementalSelectionMemo:
    """OPTIMIZATION r15: one session-memoized decision relation serves the
    incremental capstone, the manifest update, and the COW shard sink
    (mirror of sampling's TestSelectionRelationMemo for the incremental
    family)."""

    def test_memo_identity_and_invalidation(self, spark, sf_dir, monkeypatch):
        import ting_data_etl_spark.operators.incremental as I
        import ting_data_etl_spark.operators.sampling as S
        from ting_data_etl_spark import relcache

        a = I.incremental_selection_df(spark, sf_dir)
        assert I.incremental_selection_df(spark, sf_dir) is a
        d = I.selection_with_deletes_df(spark, sf_dir)
        assert I.selection_with_deletes_df(spark, sf_dir) is d
        assert d is not a
        p = I._selected_post_ids(spark, sf_dir)
        assert I._selected_post_ids(spark, sf_dir) is p
        # a generation selects a DIFFERENT standing split -> fresh key
        assert I.incremental_selection_df(spark, sf_dir, gen=1) is not a
        # a constants retune must key a fresh relation (stale-memo hazard;
        # BUDGET_PCT is folded via _incr_token)
        monkeypatch.setattr(S, "BUDGET_PCT", max(1, S.BUDGET_PCT - 7))
        assert I.incremental_selection_df(spark, sf_dir) is not a
        monkeypatch.undo()
        assert I.incremental_selection_df(spark, sf_dir) is a
        relcache.clear()
        assert I.incremental_selection_df(spark, sf_dir) is not a

    def test_manifest_and_sink_share_the_decision_relation(
        self, spark, sf_dir
    ):
        """The maintained digest and the COW read-back digest must agree
        row-for-row — both consume the one memoized delta derivation."""
        import ting_data_etl_spark.operators.incremental as I

        post = I._selected_post_ids(spark, sf_dir)
        man = {
            tuple(r)
            for r in I.incremental_manifest_update(spark, sf_dir).collect()
        }
        sink = {
            tuple(r)
            for r in I.incremental_shard_sink_delta(spark, sf_dir).collect()
        }
        assert man == sink
        assert I._selected_post_ids(spark, sf_dir) is post

