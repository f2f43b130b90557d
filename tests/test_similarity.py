"""IVF-with-k-means quality: recall@5 against the brute-force baseline."""

from __future__ import annotations

import __spark_entry__ as entrymod
from pyspark.sql import functions as F

from ting_data_etl_spark.operators.similarity import (
    KMEANS_LISTS,
    ivf_centroids,
    kmeans_fit,
    _quantized,
)


class TestKmeansFit:
    def test_deterministic_model(self, spark, sf_dir):
        a = kmeans_fit(_quantized(spark, sf_dir), iters=2)
        b = kmeans_fit(_quantized(spark, sf_dir), iters=2)
        assert a == b
        assert len(a) == KMEANS_LISTS

    def test_every_vector_gets_a_list(self, spark, sf_dir):
        import pyspark.sql.functions as F

        from ting_data_etl_spark.operators.similarity import nearest_lists_udf

        cents = ivf_centroids(spark, sf_dir)
        q = _quantized(spark, sf_dir)
        assigned = q.select(
            F.element_at(nearest_lists_udf(cents, 1)(F.col("q")), 1).alias("list_id")
        )
        assert assigned.filter(F.col("list_id").isNull()).count() == 0
        n_lists = assigned.distinct().count()
        assert 1 < n_lists <= KMEANS_LISTS

    def test_udf_assignment_matches_expression_form(self, spark, sf_dir):
        """The vectorized matmul kernel must agree with the exact
        pure-expression argmin, probe list for probe list."""
        import pyspark.sql.functions as F

        from ting_data_etl_spark.operators.similarity import (
            NPROBE,
            _nearest_lists,
            nearest_lists_udf,
        )

        cents = ivf_centroids(spark, sf_dir)
        q = _quantized(spark, sf_dir).limit(200)
        both = q.select(
            "vec_id",
            _nearest_lists(F.col("q"), cents, NPROBE).alias("expr_lists"),
            nearest_lists_udf(cents, NPROBE)(F.col("q")).alias("udf_lists"),
        )
        for r in both.collect():
            assert list(r.expr_lists) == list(r.udf_lists), r.vec_id


class TestRecall:
    def test_recall_at_5_vs_bruteforce(self, spark, sf_dir):
        qs = entrymod.queries()
        brute = qs["similarity_bruteforce_topk"](spark, sf_dir).collect()
        ivf = qs["similarity_ivf_kmeans_topk"](spark, sf_dir).collect()
        truth: dict[int, set[int]] = {}
        for r in brute:
            truth.setdefault(r.query_id, set()).add(r.neighbor_id)
        got: dict[int, set[int]] = {}
        for r in ivf:
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
        total = sum(len(v) for v in truth.values())
        recall = hits / total
        print(f"IVF k-means recall@5 = {recall:.3f} ({hits}/{total})")
        # NPROBE/KMEANS_LISTS = 3/8 of the corpus scanned; cosine neighbors
        # concentrate in nearby cells, so recall must beat the random-scan
        # expectation (= fraction scanned) by a wide margin
        assert recall >= 0.5

    def test_srp_lsh_recall_vs_bruteforce(self, spark, sf_dir):
        qs = entrymod.queries()
        brute = qs["similarity_bruteforce_topk"](spark, sf_dir).collect()
        srp = qs["similarity_srp_lsh_topk"](spark, sf_dir).collect()
        truth: dict[int, set[int]] = {}
        for r in brute:
            truth.setdefault(r.query_id, set()).add(r.neighbor_id)
        got: dict[int, set[int]] = {}
        for r in srp:
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
        total = sum(len(v) for v in truth.values())
        recall = hits / total
        print(f"SRP-LSH recall@5 = {recall:.3f} ({hits}/{total})")
        # 9 of 256 buckets probed (~3.5% of the corpus scanned); SRP bit
        # collisions concentrate angular neighbors, so recall must beat the
        # random-scan expectation by a wide margin
        assert recall >= 0.3


class TestSrpBuckets:
    def test_bucket_is_deterministic_and_bounded(self, spark, sf_dir):
        import pyspark.sql.functions as F

        from ting_data_etl_spark.operators.similarity import (
            SRP_BITS,
            _quantized,
            srp_bucket,
        )

        from ting_data_etl_spark.operators.similarity import SRP_TABLES

        q = _quantized(spark, sf_dir)
        for t in range(SRP_TABLES):
            b1 = q.select("vec_id", srp_bucket(F.col("q"), t).alias("b"))
            rows = {r.vec_id: r.b for r in b1.collect()}
            assert all(0 <= v < (1 << SRP_BITS) for v in rows.values())
            rows2 = {r.vec_id: r.b for r in b1.collect()}
            assert rows == rows2


class TestSrpUdfParity:
    def test_udf_matches_expression_buckets(self, spark, sf_dir):
        import pyspark.sql.functions as F

        from ting_data_etl_spark.operators.similarity import (
            SRP_TABLES,
            _quantized,
            srp_bucket,
            srp_buckets_udf,
        )

        q = _quantized(spark, sf_dir).limit(200)
        both = q.select(
            "vec_id",
            F.array(
                *[srp_bucket(F.col("q"), t) for t in range(SRP_TABLES)]
            ).alias("expr_b"),
            srp_buckets_udf()(F.col("q")).alias("udf_b"),
        )
        for r in both.collect():
            assert list(r.expr_b) == list(r.udf_b), r.vec_id


class TestCosineUdfParity:
    def test_udf_matches_expression_cosine(self, spark, sf_dir):
        import pyspark.sql.functions as F

        from ting_data_etl_spark.operators.similarity import (
            _cosine_pre,
            _quantized,
            cosine_udf,
        )

        q = _quantized(spark, sf_dir).limit(50)
        a = q.select(
            F.col("vec_id").alias("ia"),
            F.col("q").alias("qa"),
            F.col("norm").alias("na"),
        )
        b = q.select(
            F.col("vec_id").alias("ib"),
            F.col("q").alias("qb"),
            F.col("norm").alias("nb"),
        )
        pairs = a.join(b, F.col("ia") < F.col("ib")).select(
            "ia",
            "ib",
            _cosine_pre(
                F.col("qa"), F.col("qb"), F.col("na"), F.col("nb")
            ).alias("expr_cos"),
            cosine_udf()(
                F.col("qa"), F.col("qb"), F.col("na"), F.col("nb")
            ).alias("udf_cos"),
        )
        for r in pairs.collect():
            assert r.expr_cos == r.udf_cos, (r.ia, r.ib)


class TestLabelStats:
    def test_exact_variance_arithmetic(self, spark, monkeypatch):
        import numpy as np
        import pyspark.sql.functions as F

        import ting_data_etl_spark.operators.similarity as sim

        # two labels with known dispersion
        rows = [
            (1, [1.0, 2.0], 0),
            (2, [3.0, 4.0], 0),
            (3, [5.0, 5.0], 1),
            (4, [5.0, 5.0], 1),
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )
        monkeypatch.setattr(sim, "load_table", lambda s, d, n: emb)
        got = {
            r.label: (r.n_vectors, r.var_trace, r.mean_sq_norm)
            for r in sim.embedding_label_stats(spark, "unused").collect()
        }
        # quantized x10000: label 0 dims -> var((1e4,3e4)) + var((2e4,4e4))
        # each = 1e8; trace = 2e8
        assert got[1][1] == 0.0  # identical vectors -> zero dispersion
        assert got[0][0] == 2 and got[1][0] == 2
        assert abs(got[0][1] - 2e8) < 1e-6


class TestRecallReportScaleShape:
    """r5 redesign pins: the registered recall report must be independent of
    the brute-force baseline's corpus-broadcast gate (VERDICT r04 item 4)."""

    def test_truth_is_sample_bounded(self, spark, sf_dir):
        from ting_data_etl_spark.operators import similarity as S

        ids = S._recall_sample_ids(spark, sf_dir)
        assert len(ids) <= S.RECALL_SAMPLE_Q
        assert ids == sorted(ids)  # deterministic lowest-id sample
        truth = S._bruteforce_truth_sampled(spark, sf_dir, ids)
        rows = truth.collect()
        assert len(rows) <= len(ids) * S.TOP_K
        per_q = {}
        for r in rows:
            per_q.setdefault(r.query_id, []).append(r)
        for q, rs in per_q.items():
            assert len(rs) <= S.TOP_K
            assert q in ids

    def test_dense_kernel_matches_pair_join_with_ties_and_zero_norms(
        self, spark, sf_dir, tmp_path
    ):
        """OPTIMIZATION r16: the matmul kernel's per-batch top-k must be
        EXACT against the pair-join + single-window reference, including
        the hard cases: cosine ties straddling the k boundary (tie-break
        is neighbor_id ASC), zero-norm corpus rows (NULL cosine, NULLS
        LAST), a zero-norm QUERY (all-NULL candidates), and self-pair
        exclusion — on a multi-partition corpus so batch-local selection
        actually has boundaries to get wrong."""
        from pyspark.sql import functions as F

        from ting_data_etl_spark.operators import similarity as S

        # synthetic embeddings: ids 0..59; make many exact duplicates so
        # cosine==1.0 ties exceed TOP_K; plant zero vectors
        rows = []
        for vid in range(60):
            if vid % 17 == 0:
                vec = [0.0] * S.EMB_DIM  # zero norm
            elif vid % 3 == 0:
                vec = [1.0] + [0.0] * (S.EMB_DIM - 1)  # duplicate family A
            elif vid % 3 == 1:
                vec = [0.5, 0.5] + [0.0] * (S.EMB_DIM - 2)
            else:
                vec = [float((vid * 7) % 5 + 1)] * S.EMB_DIM
            rows.append((vid, vec, vid % 3))
        ds = str(tmp_path / "kernel_ds")
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label int"
        ).coalesce(1).write.parquet(f"{ds}/embeddings.parquet")

        q = S._quantized(spark, ds)
        queries_rows = (
            q.filter(F.col("vec_id") % S.QUERY_MOD == 0)
            .select(
                F.col("vec_id").alias("query_id"),
                F.col("q").alias("qv"),
                F.col("norm").alias("qn"),
            )
            .collect()
        )
        corpus = q.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("q").alias("cv"),
            F.col("norm").alias("cn"),
        ).repartition(7)  # force many small batches
        got = sorted(
            map(
                tuple,
                S.topk_per_query(
                    S._dense_topk_candidates(corpus, queries_rows, S.TOP_K)
                ).collect(),
            )
        )
        # reference: pair join + HOF cosine + one window
        queries = q.filter(F.col("vec_id") % S.QUERY_MOD == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("q").alias("qv"),
            F.col("norm").alias("qn"),
        )
        ref_pairs = queries.join(
            q.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("q").alias("cv"),
                F.col("norm").alias("cn"),
            ),
            F.col("neighbor_id") != F.col("query_id"),
        ).select(
            "query_id",
            "neighbor_id",
            S._cosine_pre(
                F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
            ).alias("cosine"),
        )
        want = sorted(map(tuple, S.topk_per_query(ref_pairs).collect()))
        assert got == want

    def test_dense_kernel_rejects_null_embedding_by_id(self, spark):
        """A null (or ragged) corpus vector has no place in the matmul: the
        kernel must fail with a message naming the row, not crash later
        inside numpy."""
        import pytest

        from ting_data_etl_spark.operators import similarity as S

        d = 4
        corpus = spark.createDataFrame(
            [(1, [1, 0, 0, 0], 1.0), (7, None, 0.0), (9, [0, 1, 0, 0], 1.0)],
            "neighbor_id long, cv array<bigint>, cn double",
        ).coalesce(1)
        queries_rows = spark.createDataFrame(
            [(1, [1] * d, 2.0)], "query_id long, qv array<bigint>, qn double"
        ).collect()
        with pytest.raises(Exception) as err:
            S._dense_topk_candidates(corpus, queries_rows, S.TOP_K).collect()
        msg = str(err.value)
        assert "ValueError" in msg
        assert "null or ragged cv" in msg and "neighbor_id [7]" in msg

    def test_two_phase_topk_matches_single_window(self, spark, sf_dir):
        """Salted phase-1 + re-rank must equal the gated baseline's exact
        top-k for the same queries."""
        from ting_data_etl_spark.operators import similarity as S

        ids = S._recall_sample_ids(spark, sf_dir)
        sampled = {
            (r.query_id, r.neighbor_id)
            for r in S._bruteforce_truth_sampled(spark, sf_dir, ids).collect()
        }
        full = {
            (r.query_id, r.neighbor_id)
            for r in S.similarity_bruteforce(spark, sf_dir).collect()
            if r.query_id in set(ids)
        }
        assert sampled == full

    def test_report_runs_above_bruteforce_gate(self, spark, sf_dir, monkeypatch):
        """Force the gate to trip: the baseline must refuse, the report must
        still run (it has no full-corpus broadcast subplan anymore)."""
        import pytest

        from ting_data_etl_spark.operators import similarity as S

        monkeypatch.setattr(S, "BRUTEFORCE_MAX_CORPUS_ROWS", 0)
        with pytest.raises(ValueError, match="broadcast gate"):
            S.similarity_bruteforce(spark, sf_dir)
        rows = S.similarity_recall_report(spark, sf_dir).collect()
        assert {r.method for r in rows} == {"ivf_kmeans", "srp_lsh"}
        for r in rows:
            assert 0.0 <= r.recall_at_5 <= 1.0
            assert r.n_truth <= S.RECALL_SAMPLE_Q * S.TOP_K


class TestKmeansListsRetune:
    def test_retuned_lists_actually_fit_that_many(
        self, spark, sf_dir, monkeypatch
    ):
        """A KMEANS_LISTS retune must reach the fit itself.

        Regression for the def-time-default bug the SCALE_r06 run caught:
        ``kmeans_fit(k=KMEANS_LISTS)`` froze the import-time 8, so a
        retuned deployment built an 8-list index while the cache key and
        artifact filename claimed the retuned k — searches then scanned
        N/8-vector lists at corpus scale.
        """
        from ting_data_etl_spark.operators import similarity as S

        monkeypatch.setattr(S, "KMEANS_LISTS", 12)
        monkeypatch.setattr(S, "_CENTROIDS", {})
        model = S.ivf_centroids(spark, sf_dir)
        assert len(model) == 12
        assert all(len(c) == len(model[0]) for c in model)


class TestSrpRetune:
    """SRP_BITS is a config constant whose documented contract (commit
    4002d7d) is 'retuning regenerates the planes and refits BOTH sides
    together'. Exercise the contract instead of just documenting it: at 6
    bits (the registered config) and at 8 bits, the Spark search and a
    regenerated DuckDB oracle must stay bit-identical."""

    def _run_both(self, spark, sf_dir):
        import duckdb

        from ting_data_etl_spark.operators import similarity as S

        sdf = (
            S.similarity_srp_lsh(spark, sf_dir)
            .toPandas()
            .sort_values(["query_id", "neighbor_id"])
            .reset_index(drop=True)
        )
        sql = f"""
WITH {S._SQL_QUANT},
{S.sql_srp_search_ctes(f"vec_id % {S.QUERY_MOD} = 0")}
SELECT query_id, neighbor_id, cosine FROM srp_topk
"""
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
        )
        odf = (
            con.execute(sql)
            .df()
            .sort_values(["query_id", "neighbor_id"])
            .reset_index(drop=True)
        )
        return sdf, odf

    def _assert_match(self, sdf, odf):
        assert len(sdf) == len(odf) > 0
        assert sdf["query_id"].tolist() == odf["query_id"].tolist()
        assert sdf["neighbor_id"].tolist() == odf["neighbor_id"].tolist()
        for a, b in zip(sdf["cosine"].tolist(), odf["cosine"].tolist()):
            assert (a != a and b != b) or a == b  # NaN-safe exact

    def test_bits_6_registered_config(self, spark, sf_dir):
        sdf, odf = self._run_both(spark, sf_dir)
        self._assert_match(sdf, odf)

    def test_bits_8_retune_refits_both_sides(self, spark, sf_dir, monkeypatch):
        from ting_data_etl_spark.operators import similarity as S

        monkeypatch.setattr(S, "SRP_BITS", 8)
        monkeypatch.setattr(S, "SRP_SIGNS", S._srp_signs())
        sdf, odf = self._run_both(spark, sf_dir)
        self._assert_match(sdf, odf)
        # the regenerated planes genuinely are 8 wide per table
        assert all(len(table) == 8 for table in S.SRP_SIGNS)


class TestIncrementalIvf:
    def test_drift_tv_pure(self, spark):
        from ting_data_etl_spark.operators.similarity import (
            incremental_drift_tv,
        )

        mk = lambda rows: spark.createDataFrame(rows, "list_id int")
        same = incremental_drift_tv(
            mk([(0,), (0,), (1,), (1,)]), mk([(0,), (1,)])
        )
        assert abs(same) < 1e-12
        disjoint = incremental_drift_tv(mk([(0,), (0,)]), mk([(1,), (1,)]))
        assert abs(disjoint - 1.0) < 1e-12
        half = incremental_drift_tv(
            mk([(0,), (1,)]), mk([(0,), (0,), (0,), (1,)])
        )
        assert abs(half - 0.25) < 1e-12

    def test_drift_guard_warns(self, spark, sf_dir, monkeypatch):
        """A threshold below the corpus's natural TV must trip the loud
        refit warning; the normal threshold must not."""
        import warnings as w

        from ting_data_etl_spark.operators import similarity as S

        monkeypatch.setattr(S, "INCR_REFIT_TV", -1.0)  # anything trips
        with w.catch_warnings(record=True) as rec:
            w.simplefilter("always")
            S.similarity_incremental_ivf(spark, sf_dir)
        assert any("rebuild the index" in str(x.message) for x in rec)

    def test_batch_queries_only_and_standing_fit(self, spark, sf_dir):
        """Every query id is a batch member, and the standing-subset model
        is cached apart from the full-corpus model."""
        from ting_data_etl_spark.operators import similarity as S

        out = S.similarity_incremental_ivf(spark, sf_dir)
        bad = out.filter(
            F.col("query_id") % S.INCR_BATCH_MOD != S.INCR_BATCH_REM
        ).count()
        assert bad == 0
        full = S.ivf_centroids(spark, sf_dir)
        standing = S.ivf_centroids(
            spark,
            sf_dir,
            fit_pred=~S._incr_batch_pred(),
            subset_tag="standing",
        )
        # different fit inputs -> (almost surely) different models; at
        # minimum the cache must hold them under distinct keys
        keys = [k for k in S._CENTROIDS if k[0] == sf_dir]
        assert len({k[1] for k in keys}) >= 2
        assert full is not standing


class TestIncrementalIvfDelete:
    """Tombstone + re-embed maintenance (VERDICT r8 #4)."""

    def test_deleted_ids_never_surface(self, spark, sf_dir):
        """A tombstoned-and-not-re-added standing id must not appear as a
        neighbor; re-added and batch ids may."""
        from ting_data_etl_spark.operators import similarity as S

        out = S.similarity_incremental_ivf_delete(spark, sf_dir).cache()
        dead = out.filter(
            (F.col("neighbor_id") % S.INCR_DELETE_MOD == S.INCR_DELETE_REM)
            & (F.col("neighbor_id") % S.INCR_READD_MOD != S.INCR_READD_REM)
        ).count()
        assert dead == 0
        # queries are exactly the append batch, as in the base query
        bad_q = out.filter(
            F.col("query_id") % S.INCR_BATCH_MOD != S.INCR_BATCH_REM
        ).count()
        assert bad_q == 0
        out.unpersist()

    def test_readd_uses_new_vector(self, spark, sf_dir):
        """A re-added neighbor's cosine must reflect the SIGN-FLIPPED
        vector: recomputing it from the original embedding must give the
        negated value — proving the index serves the update, not the
        stale standing vector."""
        from ting_data_etl_spark.operators import similarity as S

        out = S.similarity_incremental_ivf_delete(spark, sf_dir)
        readded = out.filter(
            F.col("neighbor_id") % S.INCR_READD_MOD == S.INCR_READD_REM
        ).limit(5)
        rows = readded.collect()
        if not rows:  # tiny sf may place no re-added vector in any top-k
            import pytest

            pytest.skip("no re-added neighbor in top-k at this sf")
        q = S._quantized(spark, sf_dir)
        for r in rows:
            pair = (
                q.filter(F.col("vec_id") == r["query_id"])
                .select(
                    F.col("q").alias("qv"), F.col("norm").alias("qn")
                )
                .crossJoin(
                    q.filter(F.col("vec_id") == r["neighbor_id"]).select(
                        F.col("q").alias("cv"), F.col("norm").alias("cn")
                    )
                )
                .select(
                    S._cosine_pre(
                        F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
                    ).alias("orig")
                )
                .collect()[0]
            )
            assert abs(pair["orig"] + r["cosine"]) < 1e-12

    def test_matches_oracle_sf0001(self, spark, sf_dir):
        """Full value parity with the from-scratch DuckDB twin at test sf."""
        import duckdb

        from ting_data_etl_spark.operators import similarity as S

        sdf = (
            S.similarity_incremental_ivf_delete(spark, sf_dir)
            .orderBy("query_id", "neighbor_id")
            .toPandas()
        )
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet')"
        )
        odf = (
            con.execute(
                S._sql_incremental_ivf_delete()
                + " ORDER BY query_id, neighbor_id"
            )
            .fetchdf()
        )
        assert len(sdf) == len(odf)
        assert sdf["query_id"].tolist() == odf["query_id"].tolist()
        assert sdf["neighbor_id"].tolist() == odf["neighbor_id"].tolist()
        for a, b in zip(sdf["cosine"].tolist(), odf["cosine"].tolist()):
            assert (a != a and b != b) or abs(a - b) < 1e-12


class TestIvfPq:
    """IVF-PQ: product-quantized residual search (r9)."""

    def test_codebook_geometry_and_cache_purge(self, spark, sf_dir):
        from ting_data_etl_spark.operators import similarity as S

        books = S.pq_codebooks(spark, sf_dir)
        assert len(books) == S.PQ_M
        for book in books:
            assert 1 <= len(book) <= S.PQ_K
            assert all(len(c) == S.PQ_SUB for c in book)
            assert all(isinstance(x, int) for c in book for x in c)
        # warm cache key exists; purge_stages must evict it (r7's
        # _CENTROIDS staleness trap, extended to _PQ_BOOKS)
        assert any(k[0] == sf_dir for k in S._PQ_BOOKS)

    def test_results_shape_and_probe_discipline(self, spark, sf_dir):
        from ting_data_etl_spark.operators import similarity as S

        out = S.similarity_ivfpq_topk(spark, sf_dir).cache()
        per_q = out.groupBy("query_id").count()
        assert per_q.filter(F.col("count") > S.TOP_K).count() == 0
        bad_q = out.filter(
            F.col("query_id") % S.QUERY_MOD != 0
        ).count()
        assert bad_q == 0
        out.unpersist()

    def test_reconstruction_is_close_not_exact(self, spark, sf_dir):
        """PQ reconstructions must approximate the originals (mean cosine
        against the true vector well above random) while NOT being exact
        (otherwise the 'compression' is an identity and the test corpus
        is degenerate)."""
        from ting_data_etl_spark.operators import similarity as S

        coarse = S.ivf_centroids(spark, sf_dir)
        books = S.pq_codebooks(spark, sf_dir)
        codes = S._pq_residuals(spark, sf_dir)
        for m, book in enumerate(books):
            codes = codes.withColumn(
                f"code{m}",
                F.element_at(
                    S.nearest_lists_udf(book, 1)(
                        F.slice("r", m * S.PQ_SUB + 1, S.PQ_SUB)
                    ),
                    1,
                ),
            )
        book_lits = [
            F.array(*[F.array(*[F.lit(int(x)) for x in c]) for c in book])
            for book in books
        ]
        rsub = F.concat(
            *[
                F.element_at(book_lits[m], F.col(f"code{m}") + 1)
                for m in range(S.PQ_M)
            ]
        )
        rv = F.zip_with(
            F.element_at(S._coarse_lit(coarse), F.col("list_id") + 1),
            rsub,
            lambda a, b: a + b,
        )
        q = S._quantized(spark, sf_dir).select("vec_id", "q", "norm")
        recon = codes.select("vec_id", rv.alias("rv")).join(q, "vec_id")
        from ting_data_etl_spark.functions.vectors import dot_product

        scored = recon.select(
            S._cosine_pre(
                F.col("q"),
                F.col("rv"),
                F.col("norm"),
                F.sqrt(dot_product(F.col("rv"), F.col("rv"))),
            ).alias("fidelity")
        ).agg(
            F.avg("fidelity").alias("mean_f"),
            F.sum((F.col("fidelity") > 0.99999).cast("long")).alias("n_exact"),
            F.count("*").alias("n"),
        ).collect()[0]
        # the synthetic corpus is heavy-noise BY DESIGN (sibling cosine
        # ~0.2, scale_corpus.py) so an 8-centroid/subspace codebook tops
        # out near 0.45 mean fidelity here; the floor pins "far above
        # random" (random ≈ 0), not production-recall reconstruction
        assert scored["mean_f"] > 0.3, scored
        assert scored["n_exact"] < scored["n"], "PQ degenerated to identity"


class TestSemDedup:
    def test_keeper_precedes_and_shares_cluster(self, spark, sf_dir):
        import ting_data_etl_spark.operators.similarity as S

        rows = S.dedup_semdedup_prune(spark, sf_dir).collect()
        assert rows, "semdedup pruned nothing on the fixture corpus"
        cents = S.ivf_centroids(spark, sf_dir)
        assign1 = S.nearest_lists_udf(cents, 1)
        lists = {
            r.vec_id: r.list_id
            for r in S._quantized(spark, sf_dir)
            .select(
                "vec_id",
                F.element_at(assign1(F.col("q")), 1).alias("list_id"),
            )
            .collect()
        }
        for r in rows:
            assert r.keeper_id < r.vec_id, r
            assert lists[r.vec_id] == r.list_id, r
            assert lists[r.keeper_id] == r.list_id, r

    def test_pruned_pairs_are_eps_close(self, spark, sf_dir):
        import numpy as np

        import ting_data_etl_spark.operators.similarity as S

        rows = S.dedup_semdedup_prune(spark, sf_dir).collect()
        vecs = {
            r.vec_id: np.asarray(r.q, dtype=np.float64)
            for r in S._quantized(spark, sf_dir).collect()
        }
        for r in rows[:50]:
            a, b = vecs[r.keeper_id], vecs[r.vec_id]
            cos = float(a @ b) / (np.sqrt(a @ a) * np.sqrt(b @ b))
            assert cos >= S.SEMDEDUP_EPS - 1e-12, (r, cos)

    def test_planted_duplicate_is_pruned(self, spark, sf_dir, tmp_path):
        """An exact duplicate vector (new, higher id) must be pruned —
        same cluster by determinism of the assignment, cosine 1.0."""
        import ting_data_etl_spark.operators.similarity as S
        from ting_data_etl_spark.sources.tables import load_table

        e = load_table(spark, sf_dir, "embeddings")
        max_id = e.agg(F.max("vec_id")).collect()[0][0]
        src = e.limit(40)
        dup = src.limit(1).select(
            (F.col("vec_id") + max_id + 1).alias("vec_id"),
            "embedding",
            "label",
        )
        cols = [f.name for f in e.schema.fields]
        ds = str(tmp_path / "planted")
        src.select(*cols).unionByName(dup.select(*cols)).coalesce(
            1
        ).write.parquet(f"{ds}/embeddings.parquet")
        out = {r.vec_id: r for r in S.dedup_semdedup_prune(spark, ds).collect()}
        planted = max_id + 1 + src.limit(1).collect()[0].vec_id
        assert planted in out, (planted, sorted(out))
        assert out[planted].keeper_id < planted


class TestIvfpqRerank:
    @staticmethod
    def _byq(rows) -> dict[int, set[int]]:
        out: dict[int, set[int]] = {}
        for r in rows:
            out.setdefault(r.query_id, set()).add(r.neighbor_id)
        return out

    def test_rerank_scores_are_exact_and_recall_not_worse(self, spark, sf_dir):
        import numpy as np

        import ting_data_etl_spark.operators.similarity as S

        qs = entrymod.queries()
        rer = qs["similarity_ivfpq_rerank"](spark, sf_dir).collect()
        pq = qs["similarity_ivfpq_topk"](spark, sf_dir).collect()
        brute = qs["similarity_bruteforce_topk"](spark, sf_dir).collect()

        # 1. refinement reports EXACT cosines (thresholds transfer)
        vecs = {
            r.vec_id: np.asarray(r.q, dtype=np.float64)
            for r in S._quantized(spark, sf_dir).collect()
        }
        for r in rer[:50]:
            a, b = vecs[r.query_id], vecs[r.neighbor_id]
            want = float(a @ b) / (np.sqrt(a @ a) * np.sqrt(b @ b))
            assert abs(r.cosine - want) < 1e-12, (r, want)

        # 2. rerank must not lose recall vs the ADC-only ranking: the ADC
        # top-5 is a subset of the rerank's candidate pool, so exact
        # rescoring can only promote true neighbors into the final 5
        truth = self._byq(brute)
        r_pq = self._byq(pq)
        r_rr = self._byq(rer)
        hits_pq = sum(len(truth[q] & r_pq.get(q, set())) for q in truth)
        hits_rr = sum(len(truth[q] & r_rr.get(q, set())) for q in truth)
        total = sum(len(v) for v in truth.values())
        print(
            f"IVF-PQ recall@5 = {hits_pq / total:.3f}, "
            f"+rerank = {hits_rr / total:.3f}"
        )
        assert hits_rr >= hits_pq, (hits_rr, hits_pq)


class TestPqRecallReport:
    def test_rerank_leg_dominates_adc_leg(self, spark, sf_dir):
        import ting_data_etl_spark.operators.similarity as S

        rows = {
            r.method: r
            for r in S.similarity_pq_recall_report(spark, sf_dir).collect()
        }
        assert set(rows) == {"ivfpq", "ivfpq_rerank"}
        for r in rows.values():
            assert r.n_truth > 0 and 0.0 <= r.recall_at_5 <= 1.0
            assert abs(r.recall_at_5 - r.n_hits / r.n_truth) < 1e-12
        # exact rescoring of a candidate superset can only help
        assert (
            rows["ivfpq_rerank"].recall_at_5 >= rows["ivfpq"].recall_at_5
        ), rows


class TestIndexRebuild:
    """similarity_index_rebuild (VERDICT r12 #1, ANN half): refit on the
    current corpus, staged rebuilt index, dead-generation GC."""

    def test_sweep_reclaims_dead_generations_only(self, spark, sf_dir):
        import os
        import shutil

        from ting_data_etl_spark.operators.dedup import (
            _source_fp,
            _stage_dir,
        )
        from ting_data_etl_spark.operators.similarity import (
            KMEANS_ITERS,
            KMEANS_LISTS,
            KMEANS_SAMPLE_MOD,
            _full_index_path,
            similarity_index_rebuild,
        )

        root = os.path.dirname(_stage_dir(sf_dir, ["x"]))
        os.makedirs(root, exist_ok=True)
        # plant a DEAD generation: an index dir + model json whose names
        # carry a fingerprint no current call can ever recompute
        dead_idx = os.path.join(root, "ivf_incr_index_v1_0_0_k99_i9_m9_b5r1")
        dead_model = os.path.join(root, "ivf_model_v2_0_0_k99_i9_m9.json")
        os.makedirs(dead_idx, exist_ok=True)
        with open(dead_model, "w") as f:
            f.write("[]")

        # force the COLD-build path: the sweep fires exactly once, when the
        # staged full index is first published (ADVICE r13: warm read-backs
        # must never re-sweep)
        shutil.rmtree(_full_index_path(sf_dir), ignore_errors=True)
        n = similarity_index_rebuild(spark, sf_dir).count()
        assert n > 0
        assert not os.path.exists(dead_idx), "dead index generation leaked"
        assert not os.path.exists(dead_model), "dead model artifact leaked"

        # WARM call: a planted foreign-generation artifact must SURVIVE —
        # a concurrent retuned session shares this stage root and its live
        # ivf_* artifacts must not be deleted by a read-back
        os.makedirs(dead_idx, exist_ok=True)
        with open(dead_model, "w") as f:
            f.write("[]")
        assert similarity_index_rebuild(spark, sf_dir).count() == n
        assert os.path.exists(dead_idx), "warm read-back swept a live dir"
        assert os.path.exists(dead_model), "warm read-back swept a live file"
        shutil.rmtree(dead_idx, ignore_errors=True)
        os.remove(dead_model)
        # live generations retained: the rebuilt full index AND the
        # current-fingerprint standing-fit artifacts survive
        src_fp = _source_fp(sf_dir, "embeddings")
        cfg = f"k{KMEANS_LISTS}_i{KMEANS_ITERS}_m{KMEANS_SAMPLE_MOD}"
        live = [
            d
            for d in os.listdir(root)
            if d.startswith("ivf_full_index_v1_") and src_fp in d and cfg in d
        ]
        assert live, "rebuilt staged index missing after rebuild"

    def test_rebuilt_index_is_served_warm(self, spark, sf_dir):
        """Second rebuild call must READ the staged artifact, not
        re-publish it (write-once contract: dir mtime unchanged)."""
        import os

        from ting_data_etl_spark.operators.dedup import (
            _source_fp,
            _stage_dir,
        )
        from ting_data_etl_spark.operators.similarity import (
            KMEANS_ITERS,
            KMEANS_LISTS,
            KMEANS_SAMPLE_MOD,
            ivf_centroids,
            _staged_full_index,
        )

        cents = ivf_centroids(spark, sf_dir)
        _staged_full_index(spark, sf_dir, cents).count()
        out = _stage_dir(
            sf_dir,
            [
                "ivf_full_index_v1",
                _source_fp(sf_dir, "embeddings"),
                f"k{KMEANS_LISTS}_i{KMEANS_ITERS}_m{KMEANS_SAMPLE_MOD}",
            ],
        )
        m0 = os.path.getmtime(out)
        _staged_full_index(spark, sf_dir, cents).count()
        assert os.path.getmtime(out) == m0

    def test_rebuild_equals_fresh_search_on_new_model(self, spark, sf_dir):
        """The staged read-back path must give bit-identical results to an
        unstaged search under the same refit model — the re-convergence
        claim, Spark-side (the driver oracle re-checks it vs SQL)."""
        from pyspark.sql import functions as F

        from ting_data_etl_spark.operators.similarity import (
            NPROBE,
            _incr_batch_pred,
            _quantized,
            cosine_udf,
            ivf_centroids,
            nearest_lists_udf,
            similarity_index_rebuild,
            topk_per_query,
        )

        got = sorted(
            map(tuple, similarity_index_rebuild(spark, sf_dir).collect())
        )
        cents = ivf_centroids(spark, sf_dir)
        q = _quantized(spark, sf_dir)
        assign1 = nearest_lists_udf(cents, 1)
        corpus = q.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("q").alias("cv"),
            F.col("norm").alias("cn"),
            F.element_at(assign1(F.col("q")), 1).alias("list_id"),
        )
        batch = q.filter(_incr_batch_pred())
        queries = batch.select(
            F.col("vec_id").alias("query_id"),
            F.col("q").alias("qv"),
            F.col("norm").alias("qn"),
            F.explode(nearest_lists_udf(cents, NPROBE)(F.col("q"))).alias(
                "probe_list"
            ),
        )
        pairs = queries.join(
            corpus,
            (F.col("probe_list") == F.col("list_id"))
            & (F.col("neighbor_id") != F.col("query_id")),
        ).select(
            "query_id",
            "neighbor_id",
            cosine_udf()(
                F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
            ).alias("cosine"),
        )
        want = sorted(map(tuple, topk_per_query(pairs).collect()))
        assert got == want
