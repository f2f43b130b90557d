"""Tests for dedup operators: caps, exact-dedup semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from ting_data_etl_spark.operators.dedup import (
    band_frequency_cap,
    shingle_frequency_cap,
)


class TestBandFrequencyCap:
    def test_drops_hot_buckets_keeps_cold(self, spark):
        rows = [(i, 0, "hot") for i in range(6)] + [(10, 0, "cold"), (11, 0, "cold")]
        bands = spark.createDataFrame(rows, "doc_id long, j int, band string")
        out = band_frequency_cap(bands, cap=5)
        got = {(r.doc_id, r.band) for r in out.collect()}
        assert got == {(10, "cold"), (11, "cold")}

    def test_band_index_isolation(self, spark):
        # same band string under different j = different hash tables
        rows = [(i, i % 2, "x") for i in range(8)]
        bands = spark.createDataFrame(rows, "doc_id long, j int, band string")
        assert band_frequency_cap(bands, cap=4).count() == 8  # 4 per j, both kept
        assert band_frequency_cap(bands, cap=3).count() == 0


class TestShingleFrequencyCap:
    def test_source_blocked(self, spark):
        rows = [(i, "srcA", 42) for i in range(4)] + [(9, "srcB", 42)]
        sh = spark.createDataFrame(rows, "doc_id long, source string, shingle long")
        out = shingle_frequency_cap(sh, cap=3)
        # srcA's bucket of 4 dropped; srcB's singleton survives
        assert [(r.doc_id, r.source) for r in out.collect()] == [(9, "srcB")]


class TestExactDedupSemantics:
    def test_keeper_is_min_doc_id(self, spark, sf_dir):
        import __spark_entry__ as entrymod

        out = entrymod.queries()["dedup_exact"](spark, sf_dir)
        rows = out.collect()
        by_keeper: dict[int, list] = {}
        for r in rows:
            by_keeper.setdefault(r.keeper, []).append(r)
        for keeper, members in by_keeper.items():
            ids = [m.doc_id for m in members]
            assert keeper == min(ids)
            for m in members:
                assert m.is_dup == (m.doc_id != keeper)


class TestSimhashPairs:
    def test_hamming_le3_is_complete(self, spark, monkeypatch):
        """4-band construction finds EVERY pair within hamming 3 (pigeonhole)."""
        import itertools

        import ting_data_etl_spark.operators.dedup as dd

        rows = [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again extra"),
            (3, "pack my box with five dozen liquor jugs every single day"),
            (4, "the quick brown fox jumps over the lazy dog again and again"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        sigs = {r.doc_id: r.simhash for r in dd.simhash_signatures_df(docs).collect()}

        def load_docs(spark_, sf_dir_, name_):
            return docs

        monkeypatch.setattr(dd, "load_table", load_docs)
        got = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in dd.dedup_simhash_pairs(spark, "unused").collect()
        }
        want = set()
        for a, b in itertools.combinations(sorted(sigs), 2):
            h = bin(sigs[a] ^ sigs[b]).count("1")
            if h <= dd.SIMHASH_HAMMING_MAX:
                want.add((a, b, h))
        assert got == want
        assert (1, 4, 0) in got  # exact dup pair found at distance 0


class TestSimhashRetune:
    """SIMHASH_BITS is a capacity constant with the same contract as
    similarity.SRP_BITS: retuning the width regenerates the signature, the
    band masks, AND the DuckDB oracle together (the register() callables
    re-read the constant). Exercise it at the registered 32 bits and at the
    60-bit width the scale runner uses for ≥50k-doc corpora."""

    def _run_both(self, spark, sf_dir):
        import duckdb

        import ting_data_etl_spark.operators.dedup as dd

        sdf = (
            dd.dedup_simhash_pairs(spark, sf_dir)
            .toPandas()
            .sort_values(["doc_a", "doc_b"])
            .reset_index(drop=True)
        )
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
        )
        odf = (
            con.execute(dd._sql_simhash_pairs())
            .df()
            .sort_values(["doc_a", "doc_b"])
            .reset_index(drop=True)
        )
        return sdf, odf

    def _assert_match(self, sdf, odf):
        assert len(sdf) == len(odf) > 0
        for col in ("doc_a", "doc_b", "hamming"):
            assert sdf[col].tolist() == odf[col].tolist()

    def test_bits_32_registered_config(self, spark, sf_dir):
        sdf, odf = self._run_both(spark, sf_dir)
        self._assert_match(sdf, odf)

    def test_bits_60_retune_refits_both_sides(self, spark, sf_dir, monkeypatch):
        import ting_data_etl_spark.operators.dedup as dd

        monkeypatch.setattr(dd, "SIMHASH_BITS", 60)
        sdf, odf = self._run_both(spark, sf_dir)
        self._assert_match(sdf, odf)
        # signatures genuinely use the full 60-bit range
        sigs = dd.dedup_simhash(spark, sf_dir).toPandas()["simhash"]
        assert int(sigs.max()) >= (1 << 59)


def _union_find(nodes: list[int], pairs: list[tuple[int, int]]) -> dict:
    """Reference CC: each node labeled with its component's min id."""
    parent = {n: n for n in nodes}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def _jump_rounds(nodes: list[int], pairs: list[tuple[int, int]]) -> int:
    """Rounds ``connected_components_jump`` takes: a hop and two pointer
    jumps each, until a round leaves the label sum unchanged (never
    before the second round)."""
    adj: dict[int, list[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    comp = {n: n for n in nodes}
    prev, rounds = None, 0
    while True:
        rounds += 1
        comp = {
            u: min([c] + [comp[v] for v in adj.get(u, [])])
            for u, c in comp.items()
        }
        for _ in range(2):
            comp = {u: min(c, comp.get(c, c)) for u, c in comp.items()}
        total = sum(comp.values())
        if rounds > 1 and total == prev:
            return rounds
        prev = total


def _jump_components(spark, nodes: list[int], pairs: list[tuple[int, int]]):
    from ting_data_etl_spark.operators.dedup import connected_components_jump

    got = {
        r.doc_id: r.component
        for r in connected_components_jump(
            spark.createDataFrame([(n,) for n in nodes], "doc_id long"),
            spark.createDataFrame(pairs, "doc_a long, doc_b long"),
        ).collect()
    }
    assert got == _union_find(nodes, pairs)
    return got


class TestConnectedComponents:
    def test_chain_two_components_singleton(self, spark):
        # chain 1-2-3-4 (diameter forces >1 iteration), pair 5-6, singleton 7
        got = _jump_components(
            spark, list(range(1, 8)), [(1, 2), (2, 3), (3, 4), (5, 6)]
        )
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7}

    def test_empty_pairs_all_singletons(self, spark):
        got = _jump_components(spark, list(range(3)), [])
        assert got == {0: 0, 1: 1, 2: 2}


class TestPointerJumpCC:
    def test_path_graph_jobs_per_round(self, spark, count_jobs, monkeypatch):
        """One checkpoint job per round, with the fixpoint sum observed on
        it: at most 8 jobs a round (the hop and both jumps, each query
        stage a job under AQE) plus the 5 fixed jobs before the loop (the
        pairs' persist+count runs 3, the edge and label checkpoints 1
        each)."""
        import ting_data_etl_spark.operators.dedup as dd
        from ting_data_etl_spark.operators.relational import local_frame

        checkpoints = []
        tracked = dd._tracked_checkpoint

        def counting(df):
            checkpoints.append(df)
            return tracked(df)

        monkeypatch.setattr(dd, "_tracked_checkpoint", counting)
        n = 17  # path 0-1-...-16: diameter 16 needs several rounds
        path = [(i, i + 1) for i in range(n - 1)]
        nodes = local_frame(spark, [(i,) for i in range(n)], "doc_id long")
        pairs = local_frame(spark, path, "doc_a long, doc_b long")
        out = []
        jobs = count_jobs(
            lambda: out.append(dd.connected_components_jump(nodes, pairs))
        )
        got = {r.doc_id: r.component for r in out[0].collect()}
        assert got == _union_find(list(range(n)), path)
        rounds = _jump_rounds(list(range(n)), path)
        assert rounds >= 2
        # edges and initial labels, then one checkpoint per round
        assert len(checkpoints) == rounds + 2
        assert jobs <= 8 * rounds + 5, (jobs, rounds)

    def test_empty_nodes(self, spark):
        assert _jump_components(spark, [], []) == {}

    def test_matches_union_find(self, spark):
        # long chain (deep graph), a star, a pair, singletons
        got = _jump_components(
            spark,
            list(range(1, 12)),
            [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (8, 9), (8, 10), (9, 10)],
        )
        assert got[6] == 1 and got[10] == 8 and got[7] == 7 and got[11] == 11

    def test_matches_on_lsh_pairs(self, spark, sf_dir):
        from ting_data_etl_spark.operators.dedup import (
            connected_components_jump,
            dedup_connected_components,
            dedup_minhash_pairs,
        )
        from ting_data_etl_spark.sources.tables import load_table

        ref = {
            r.doc_id: r.component
            for r in dedup_connected_components(spark, sf_dir).collect()
        }
        nodes = load_table(spark, sf_dir, "documents").select("doc_id")
        pairs = dedup_minhash_pairs(spark, sf_dir)
        two = {
            r.doc_id: r.component
            for r in connected_components_jump(nodes, pairs).collect()
        }
        assert ref == two


class TestGraphStats:
    def test_counts_consistent(self, spark, sf_dir):
        from ting_data_etl_spark.operators.dedup import (
            dedup_minhash_pairs,
            graph_near_dup_stats,
        )

        r = graph_near_dup_stats(spark, sf_dir).collect()[0]
        n_edges = dedup_minhash_pairs(spark, sf_dir).count()
        assert r.n_edges == n_edges
        assert r.n_nodes >= r.n_edges * 0 and r.n_nodes > 0
        assert 0 <= r.n_triangles
        assert r.n_wedges >= r.n_triangles  # every triangle holds 3 wedges
        if r.n_wedges > 0:
            assert 0.0 <= r.clustering_coeff <= 1.0
        else:
            assert r.clustering_coeff is None


class TestNullAndEmptyTextParity:
    def test_zero_token_docs_match_oracle_semantics(self, spark, tmp_path):
        """NULL text, empty text, and punctuation-only docs must behave
        identically in Spark and the DuckDB oracles: NULL signatures/
        shingles, unpairable in minhash/jaccard (previously Spark hashed
        them all to the empty string and paired every empty doc)."""
        import duckdb

        import __spark_entry__ as m

        rows = [
            (1, None, "a"), (2, None, "a"), (3, "", "a"), (4, "", "a"),
            (5, "the quick brown fox jumps over the lazy dog", "a"),
            (6, "the quick brown fox jumps over the lazy dog", "a"),
            (7, "!!! ???", "a"), (8, "one", "a"),
        ]
        d = spark.createDataFrame(rows, "doc_id long, text string, source string")
        d.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'{tmp_path}/documents.parquet/*.parquet'"
        )
        qs, oracles = m.queries(), m.oracle_sql()
        for name in (
            "dedup_minhash_signatures",
            "dedup_minhash_lsh_pairs",
            "dedup_ngram_jaccard_pairs",
            "dedup_incremental_minhash",
            # the delete variant shares the batch-membership algebra; doc 7
            # (punct-only -> NULL bands) is a batch doc and doc 4 (empty ->
            # re-edited to real text) exercises the re-sign path on a
            # degenerate input
            "dedup_incremental_minhash_delete",
        ):
            sdf = qs[name](spark, str(tmp_path)).toPandas()
            odf = con.execute(oracles[name]).df()
            cols = sorted(sdf.columns)
            ss = sdf[cols].astype(str).sort_values(cols).reset_index(drop=True)
            oo = odf[cols].astype(str).sort_values(cols).reset_index(drop=True)
            assert len(ss) == len(oo), name
            assert ss.equals(oo), name
        # and the semantic claim itself: only the identical real docs pair
        pairs = qs["dedup_minhash_lsh_pairs"](spark, str(tmp_path)).collect()
        assert {(r.doc_a, r.doc_b) for r in pairs} == {(5, 6)}


class TestUrlCanonical:
    CASES = [
        # (raw, canonical)
        ("https://Example.COM/Path/X", "https://example.com/Path/X"),
        ("HTTPS://EXAMPLE.COM:443/a", "https://example.com/a"),
        ("http://example.com:80/a", "http://example.com/a"),
        ("http://example.com:8080/a", "http://example.com:8080/a"),
        ("https://example.com/a#frag", "https://example.com/a"),
        ("https://example.com", "https://example.com/"),
        ("https://example.com/a?utm_source=x&id=1&utm_campaign=y",
         "https://example.com/a?id=1"),
        ("https://example.com/a?fbclid=z", "https://example.com/a"),
        ("https://example.com/a?b=2&a=1", "https://example.com/a?b=2&a=1"),
        ("https://example.com/a?ref=tw#x", "https://example.com/a"),
        # r9 hardening: userinfo off (host starts after the LAST @)
        ("https://user:pw@example.com/a", "https://example.com/a"),
        ("https://u@example.com:443/a", "https://example.com/a"),
        ("ftp://a@b@example.com/x", "ftp://example.com/x"),
        # r9 hardening: FQDN trailing dot (bare and before a port)
        ("https://example.com./a", "https://example.com/a"),
        ("http://example.com.:8080/a", "http://example.com:8080/a"),
        ("https://EXAMPLE.com.:443/a", "https://example.com/a"),
        # r9 hardening: %-encoding normalization (RFC 3986 6.2.2) —
        # unreserved escapes decode, reserved escapes uppercase, invalid
        # escapes and bare trailing % pass through verbatim
        ("https://example.com/d%6fcs/1", "https://example.com/docs/1"),
        ("https://example.com/a%2fb", "https://example.com/a%2Fb"),
        ("https://example.com/%7Euser", "https://example.com/~user"),
        ("https://example.com/a?x=%41%2c", "https://example.com/a?x=A%2C"),
        ("https://example.com/100%", "https://example.com/100%"),
        ("https://example.com/a%zz", "https://example.com/a%zz"),
        # a %-encoded tracking-param NAME decodes first, then filters
        ("https://example.com/%75tm?%75tm_source=x", "https://example.com/utm"),
    ]

    def test_spark_canonicalization(self, spark):
        from pyspark.sql import functions as F

        from ting_data_etl_spark.functions.url import canonical_url

        df = spark.createDataFrame(
            [(i, raw) for i, (raw, _) in enumerate(self.CASES)],
            "i int, url string",
        )
        got = {
            r.i: r.c
            for r in df.select("i", canonical_url("url").alias("c")).collect()
        }
        for i, (raw, want) in enumerate(self.CASES):
            assert got[i] == want, f"{raw!r} -> {got[i]!r}, want {want!r}"

    def test_duckdb_twin_parity(self):
        """The SQL twin must canonicalize every adversarial case to the
        same string as the Spark form (asserted against the same expected
        values, so a shared bug cannot hide)."""
        import duckdb

        from ting_data_etl_spark.functions.url import sql_canonical_url

        con = duckdb.connect()
        con.execute("CREATE TABLE urls(i INT, raw VARCHAR)")
        con.executemany(
            "INSERT INTO urls VALUES (?, ?)",
            [(i, raw) for i, (raw, _) in enumerate(self.CASES)],
        )
        got = dict(
            con.execute(
                f"SELECT i, {sql_canonical_url('raw')} FROM urls"
            ).fetchall()
        )
        for i, (raw, want) in enumerate(self.CASES):
            assert got[i] == want, f"{raw!r} -> {got[i]!r}, want {want!r}"

    def test_registered_groups_collapse(self, spark, sf_dir):
        """Decoration variants of one page collapse; the query-bearing
        variants form their own group (canonicalization never merges
        genuinely different resources)."""
        from ting_data_etl_spark.operators.dedup import dedup_url_canonical

        rows = dedup_url_canonical(spark, sf_dir).collect()
        by_url = {r.canonical_url: r for r in rows}
        # group 0 = doc_ids 0..6; variants 0,1,2,4 (ids 0,1,2,4) plus
        # variant-0 id 6 share the bare-path canonical; keeper is min id
        bare = by_url["https://site0.example.com/docs/0"]
        assert bare.n_docs == 5 and bare.keeper == 0
        q = by_url["https://site0.example.com/docs/0?id=0"]
        assert q.n_docs == 2 and q.keeper == 3
        # r9 variants: group 1 (ids 7..13) includes v7 (id 7: trailing dot
        # + %6F path) and v8 (id 8: upper host, dot, :443, %6f path) — both
        # must collapse into group 1's bare canonical alongside v0 (id 9),
        # v1 (id 10), v2 (id 11), v4 (id 13); only v3 (id 12) keeps a query
        bare1 = by_url["https://site1.example.com/docs/1"]
        assert bare1.n_docs == 6 and bare1.keeper == 7
        assert "https://site1.example.com./d%6Fcs/1" not in by_url

    def test_idna_host_udf(self, spark):
        """Full IDNA punycode encoding (the non-regex step) over Arrow."""
        from ting_data_etl_spark.functions.url import idna_host_udf

        df = spark.createDataFrame(
            [
                ("bücher.example",),
                ("example.com",),
                ("xn--bcher-kva.example",),
                (None,),
                ("",),  # codec rejects empty -> passes through
            ],
            "host string",
        )
        got = [
            r.e for r in df.select(idna_host_udf()(F.col("host")).alias("e")).collect()
        ]
        assert got[0] == "xn--bcher-kva.example"
        assert got[1] == "example.com"
        assert got[2] == "xn--bcher-kva.example"
        assert got[3] is None
        assert got[4] == ""


def _write_mini_docs(spark, tmp_path, rows):
    """Planted documents table as a real sf_dir (load_table-compatible)."""
    import os

    df = spark.createDataFrame(
        [(i, t, "en", s, len(t or "")) for i, t, s in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf, "documents.parquet")
    )
    return sf


class TestShingleContainment:
    def test_embedded_doc_full_containment(self, spark, tmp_path):
        """A short doc fully embedded in a long one: containment 1.0 even
        though Jaccard is far below any dedup threshold."""
        from ting_data_etl_spark.operators.dedup import (
            dedup_shingle_containment,
        )

        inner = " ".join(f"core{i}" for i in range(12))
        outer = (
            " ".join(f"pre{i}" for i in range(15))
            + f" {inner} "
            + " ".join(f"post{i}" for i in range(15))
        )
        sf = _write_mini_docs(
            spark,
            tmp_path,
            [
                (1, inner, "s1"),
                (2, outer, "s1"),
                (3, "completely unrelated filler text here", "s1"),
            ],
        )
        rows = dedup_shingle_containment(spark, sf).collect()
        got = {(r.doc_a, r.doc_b): r.containment for r in rows}
        assert got == {(1, 2): 1.0}

    def test_cross_source_blocked(self, spark, tmp_path):
        """The source block bounds the self-join: identical docs in
        different sources are NOT candidates (same contract as Jaccard)."""
        from ting_data_etl_spark.operators.dedup import (
            dedup_shingle_containment,
        )

        text = " ".join(f"w{i}" for i in range(12))
        sf = _write_mini_docs(
            spark, tmp_path, [(1, text, "s1"), (2, text, "s2")]
        )
        assert dedup_shingle_containment(spark, sf).count() == 0


class TestIncrementalMinhashDelete:
    """Tombstone + re-edit maintenance on the band index (r9)."""

    def test_no_tombstone_leaks_and_batch_only(self, spark, sf_dir):
        from ting_data_etl_spark.operators import dedup as D

        out = D.dedup_incremental_minhash_delete(spark, sf_dir).cache()
        leaks = out.filter(
            F.col("dup_of").isNotNull()
            & (F.col("dup_of") % D.INCR_DELETE_MOD == D.INCR_DELETE_REM)
            & (F.col("dup_of") % D.INCR_READD_MOD != D.INCR_READD_REM)
        ).count()
        assert leaks == 0
        bad = out.filter(
            F.col("doc_id") % D.INCR_BATCH_MOD != D.INCR_BATCH_REM
        ).count()
        assert bad == 0
        out.unpersist()

    def test_matches_oracle_and_differs_from_stale_index(self, spark, sf_dir):
        """Full parity with the docs2 twin; and planting an exact batch
        copy of a DELETED doc proves the tombstone is live (base query
        finds it, delete variant must not)."""
        import duckdb

        from ting_data_etl_spark.operators import dedup as D

        sdf = (
            D.dedup_incremental_minhash_delete(spark, sf_dir)
            .orderBy("doc_id")
            .toPandas()
        )
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        )
        odf = (
            con.execute(
                D._sql_incr_minhash_delete() + " ORDER BY d.doc_id"
            ).fetchdf()
        )
        assert len(sdf) == len(odf)
        assert sdf["doc_id"].tolist() == odf["doc_id"].tolist()
        a = sdf["dup_of"].fillna(-1).astype("int64").tolist()
        b = odf["dup_of"].fillna(-1).astype("int64").tolist()
        assert a == b

    def test_planted_delete_and_reedit(self, spark, tmp_path):
        """Planted fixture: doc 14 is DELETED (14%10==4, 14%20!=4) — an
        exact batch copy of it (doc 21) finds NO dup against the
        tombstoned index but DOES against the base (stale) index. Doc 24
        is deleted AND re-added with edited text — a batch copy of the
        EDITED text (doc 41) must match it."""
        from ting_data_etl_spark.operators import dedup as D

        base = "alpha beta gamma delta epsilon zeta eta theta " * 6
        other = "one two three four five six seven eight nine ten " * 6
        filler = "lorem ipsum dolor sit amet consectetur adipiscing elit " * 6
        edited24 = other + " edited 24"
        rows = [
            (14, base, "s"),       # corpus, deleted, NOT re-added
            (24, other, "s"),      # corpus, deleted AND re-added (edited)
            (2, filler, "s"),      # corpus, alive
            (21, base, "s"),       # batch (21%5==1): exact copy of doc 14
            (41, edited24, "s"),   # batch: copy of 24's EDITED text
        ]
        sf = _write_mini_docs(spark, tmp_path, rows)
        out = {
            r.doc_id: r
            for r in D.dedup_incremental_minhash_delete(spark, sf).collect()
        }
        # tombstone is live: the copy of the deleted doc finds nothing
        assert out[21].dup_of is None and not out[21].is_dup
        # ... while the STALE index (base query, no tombstones) finds it
        stale = {
            r.doc_id: r
            for r in D.dedup_incremental_minhash(spark, sf).collect()
        }
        assert stale[21].dup_of == 14
        # re-added doc matches through its NEW signature
        assert out[41].dup_of == 24 and out[41].is_dup


class TestMinhashEstimateError:
    def test_error_is_sketch_bounded(self, spark, sf_dir):
        """Mean |err| over candidates must sit inside the sketch's own
        variance envelope (sigma = sqrt(J(1-J)/16) <= 0.125), and the
        exact-duplicate candidates must estimate J = 1 exactly."""
        from ting_data_etl_spark.operators.dedup import (
            dedup_minhash_estimate_error,
        )

        rows = dedup_minhash_estimate_error(spark, sf_dir).collect()
        assert rows, "no candidate pairs to validate"
        for r in rows:
            assert 0.0 <= r.est_jaccard <= 1.0
            assert 0.0 <= r.true_jaccard <= 1.0
            if r.true_jaccard == 1.0:
                # identical shingle sets -> identical signatures
                assert r.n_matches and r.est_jaccard == 1.0, r
        mean_err = sum(r.abs_err for r in rows) / len(rows)
        assert mean_err <= 0.25, mean_err  # 2 sigma of the 16-hash sketch


class TestSourceOverlap:
    def test_matrix_is_unordered_and_consistent_with_pairs(self, spark, sf_dir):
        from ting_data_etl_spark.operators.dedup import (
            dedup_minhash_pairs,
            graph_source_overlap,
        )
        from ting_data_etl_spark.sources.tables import load_table

        m = {
            (r.source_a, r.source_b): r.n_pairs
            for r in graph_source_overlap(spark, sf_dir).collect()
        }
        assert m, "no candidate pairs on the fixture corpus"
        # unordered: keys are canonical (a <= b), so no mirrored entries
        assert all(a <= b for a, b in m)
        # total must equal the candidate-pair count exactly
        n_pairs = dedup_minhash_pairs(spark, sf_dir).count()
        assert sum(m.values()) == n_pairs
        # per-source-pair counts are positive and every named source exists
        sources = {
            r.source
            for r in load_table(spark, sf_dir, "documents")
            .select("source")
            .distinct()
            .collect()
        }
        assert all(v > 0 for v in m.values())
        assert all(a in sources and b in sources for a, b in m)


class TestPagerankNearDup:
    def test_exact_integer_replication(self, spark, sf_dir):
        """The distributed power iteration must equal a from-scratch
        single-threaded integer replication of the same recurrence."""
        from collections import defaultdict

        from ting_data_etl_spark.operators.dedup import (
            PAGERANK_ITERS,
            PAGERANK_SCALE,
            dedup_minhash_pairs,
            graph_pagerank_neardup,
        )

        pairs = [
            (r.doc_a, r.doc_b)
            for r in dedup_minhash_pairs(spark, sf_dir).collect()
        ]
        got = {
            r.doc_id: (r.degree, r.rank_fixed)
            for r in graph_pagerank_neardup(spark, sf_dir).collect()
        }
        und = defaultdict(list)
        for a, b in pairs:
            und[a].append(b)
            und[b].append(a)
        n = len(und)
        assert n > 0
        base = (15 * PAGERANK_SCALE) // (100 * n)
        r = {v: PAGERANK_SCALE // n for v in und}
        for _ in range(PAGERANK_ITERS):
            nxt = {v: base for v in und}
            for u, outs in und.items():
                c = (r[u] * 85) // (100 * len(outs))
                for v in outs:
                    nxt[v] += c
            r = nxt
        want = {v: (len(und[v]), r[v]) for v in und}
        assert got == want
        # mass sanity: sub-stochastic but within the floor-leak bound
        total = sum(rv for _, rv in got.values())
        assert total <= PAGERANK_SCALE
        assert total >= PAGERANK_SCALE - (len(pairs) * 2 + n) * (
            PAGERANK_ITERS + 1
        )

    def test_tiny_graph_no_int32_overflow(self, spark, monkeypatch):
        """n <= 39 nodes makes the initial rank * 85 exceed int32 — the
        lit must be long (review finding, repro'd: ANSI overflow error)."""
        import ting_data_etl_spark.operators.dedup as dd

        text = "the quick brown fox jumps over the lazy dog again and again"
        docs = spark.createDataFrame(
            [(1, text, "a"), (2, text, "a"), (3, text + " extra", "a")],
            "doc_id long, text string, source string",
        )

        def load_docs(spark_, sf_dir_, name_):
            return docs

        monkeypatch.setattr(dd, "load_table", load_docs)
        rows = dd.graph_pagerank_neardup(spark, "unused").collect()
        n = len(rows)
        assert n >= 2
        base = (15 * dd.PAGERANK_SCALE) // (100 * n)
        for r in rows:
            assert r.rank_fixed >= base
        total = sum(r.rank_fixed for r in rows)
        assert total <= dd.PAGERANK_SCALE


class TestNewRunDir:
    def test_unparseable_pid_dir_pruned_by_age(self, tmp_path):
        """ADVICE r12: a sibling whose name has no parseable pid prefix
        ('foo-bar') must still be pruned by the 24 h fallback — the old
        combined except reset a MEASURED age to 0.0 on the pid
        ValueError, so such dirs leaked forever."""
        import os
        import time

        from ting_data_etl_spark.operators.dedup import new_run_dir

        root = str(tmp_path / "runs")
        os.makedirs(os.path.join(root, "foo-bar"))
        old = time.time() - 25 * 3600
        os.utime(os.path.join(root, "foo-bar"), (old, old))
        # fresh unparseable sibling must survive (not pid-pruned, too young)
        os.makedirs(os.path.join(root, "baz-qux"))
        new_run_dir(root)
        assert not os.path.exists(os.path.join(root, "foo-bar"))
        assert os.path.exists(os.path.join(root, "baz-qux"))

    def test_dead_pid_dir_pruned_live_pid_kept(self, tmp_path):
        import os

        from ting_data_etl_spark.operators.dedup import new_run_dir

        root = str(tmp_path / "runs")
        os.makedirs(os.path.join(root, "999999999-dead"))
        os.makedirs(os.path.join(root, f"{os.getpid()}-live"))
        new_run_dir(root)
        assert not os.path.exists(os.path.join(root, "999999999-dead"))
        assert os.path.exists(os.path.join(root, f"{os.getpid()}-live"))
