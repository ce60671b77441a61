"""Unit tests for operators/graph.py (PageRank) and operators/linkage.py
(blocked fuzzy matching) + sampling.cap_per_group — the round-8 additions."""

from __future__ import annotations

import pytest
import pyspark.sql.functions as F

from extract_transform_load_spark.operators.graph import UNIT, pagerank
from extract_transform_load_spark.operators.linkage import fuzzy_pairs
from extract_transform_load_spark.operators.sampling import cap_per_group


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src bigint, dst bigint")


class TestPagerank:
    def test_two_cycle_is_uniform(self, spark):
        # a <-> b: perfectly symmetric, ranks must be identical
        pr = pagerank(_edges(spark, [(1, 2), (2, 1)]), iterations=4).collect()
        by = {r["node"]: r["rank_units"] for r in pr}
        assert by[1] == by[2]
        # total mass conserved up to integer-floor leakage (< a few
        # hundred units out of 1e12)
        assert abs(sum(by.values()) - UNIT) < 1000

    def test_star_center_dominates(self, spark):
        # leaves 2,3,4 all point at 1 and back (symmetric star)
        e = [(i, 1) for i in (2, 3, 4)] + [(1, i) for i in (2, 3, 4)]
        pr = pagerank(_edges(spark, e), iterations=5).collect()
        by = {r["node"]: r["rank_units"] for r in pr}
        assert by[1] > by[2] == by[3] == by[4]

    def test_deterministic_across_runs(self, spark):
        e = _edges(spark, [(1, 2), (2, 3), (3, 1), (1, 3)])
        a = sorted(map(tuple, pagerank(e, iterations=5).collect()))
        b = sorted(map(tuple, pagerank(e, iterations=5).collect()))
        assert a == b

    def test_rank_is_units_scaled(self, spark):
        row = pagerank(_edges(spark, [(7, 8), (8, 7)]), iterations=1).collect()[0]
        assert row["rank"] == row["rank_units"] / float(UNIT)

    def test_empty_graph(self, spark):
        out = pagerank(_edges(spark, []), iterations=3)
        assert out.count() == 0
        assert out.columns == ["node", "rank_units", "rank"]

    def test_dangling_mass_leaks_not_crashes(self, spark):
        # 1 -> 2 only: node 2 is dangling (outdeg 0); its mass is not
        # redistributed (documented variant) but every node still gets
        # the teleport floor
        pr = pagerank(_edges(spark, [(1, 2)]), iterations=3).collect()
        by = {r["node"]: r["rank_units"] for r in pr}
        teleport_floor = (15 * (UNIT // 100)) // 2
        assert by[1] >= teleport_floor and by[2] >= teleport_floor
        assert by[2] > by[1]  # 2 receives 1's mass, gives none back

    def test_iterations_validation(self, spark):
        with pytest.raises(ValueError, match="iterations"):
            pagerank(_edges(spark, [(1, 2)]), iterations=0)


def _names(spark, rows):
    return spark.createDataFrame(rows, "rid bigint, name string")


class TestFuzzyPairs:
    def test_finds_typo_pair_within_block(self, spark):
        df = _names(spark, [(1, "acme corp"), (2, "acme corq"), (3, "zzzz inc")])
        got = fuzzy_pairs(df, "rid", "name", block_len=4, max_dist=1).collect()
        assert [(r["id_a"], r["id_b"], r["dist"]) for r in got] == [(1, 2, 1)]

    def test_insertion_survives_length_prefilter(self, spark):
        # "ab" vs "abc": length differs by exactly max_dist — the cheap
        # lower-bound filter must keep it
        df = _names(spark, [(1, "abx corp"), (2, "abxy corp")])
        got = fuzzy_pairs(df, "rid", "name", block_len=2, max_dist=1).collect()
        assert len(got) == 1 and got[0]["dist"] == 1

    def test_cross_block_pair_never_compared(self, spark):
        # recall contract: differ at position 1 => different blocks
        df = _names(spark, [(1, "aaaa"), (2, "baaa")])
        assert not fuzzy_pairs(df, "rid", "name", block_len=2, max_dist=1).count()

    def test_normalization_case_and_trim(self, spark):
        df = _names(spark, [(1, "  ACME corp"), (2, "acme corp ")])
        got = fuzzy_pairs(df, "rid", "name", block_len=4, max_dist=0).collect()
        assert len(got) == 1 and got[0]["dist"] == 0

    def test_null_and_empty_names_dropped(self, spark):
        df = _names(spark, [(1, None), (2, ""), (3, "ok name"), (4, "ok nam")])
        got = fuzzy_pairs(df, "rid", "name", block_len=3, max_dist=1).collect()
        assert [(r["id_a"], r["id_b"]) for r in got] == [(3, 4)]

    def test_skew_audit_fails_loud(self, spark):
        df = _names(spark, [(i, f"same prefix {i}") for i in range(20)])
        with pytest.raises(ValueError, match="max_block"):
            fuzzy_pairs(df, "rid", "name", block_len=6, max_dist=1, max_block=10)

    def test_audit_opt_out(self, spark):
        df = _names(spark, [(i, f"pfx {i:02d}") for i in range(20)])
        out = fuzzy_pairs(df, "rid", "name", block_len=5, max_dist=1, max_block=None)
        assert out.count() > 0

    def test_canonical_order(self, spark):
        df = _names(spark, [(9, "pair x1"), (3, "pair x2")])
        got = fuzzy_pairs(df, "rid", "name", block_len=4, max_dist=1).collect()
        assert len(got) == 1 and got[0]["id_a"] == 3 and got[0]["id_b"] == 9


class TestFuzzyPairsMulti:
    """Round 9: multi-pass blocking (prefix + suffix + consonant
    skeleton) — the recall composition the r8 verdict asked for."""

    def _multi(self, spark, rows, **kw):
        from extract_transform_load_spark.operators.linkage import fuzzy_pairs_multi

        return fuzzy_pairs_multi(_names(spark, rows), "rid", "name", **kw)

    def test_head_typo_invisible_to_prefix_caught_by_suffix(self, spark):
        # typo at position 1: different prefix block in EVERY prefix
        # length, but the last-6 chars agree — only the suffix pass can
        # find it (the planted-recall contract)
        rows = [(1, "acme corp"), (2, "bcme corp")]
        assert fuzzy_pairs(
            _names(spark, rows), "rid", "name", block_len=6, max_dist=1
        ).count() == 0
        got = self._multi(spark, rows, block_len=6, max_dist=1).collect()
        assert [(r["id_a"], r["id_b"], r["dist"]) for r in got] == [(1, 2, 1)]

    def test_vowel_typo_caught_only_by_skeleton(self, spark):
        # "acme corp" vs "acmi corp": position 4 — inside prefix-6 AND
        # inside suffix-6, so both positional passes miss; the vowel
        # strip collapses both to the same consonant skeleton
        rows = [(1, "acme corp"), (2, "acmi corp")]
        got = self._multi(spark, rows, block_len=6, max_dist=1).collect()
        assert [(r["id_a"], r["id_b"], r["dist"]) for r in got] == [(1, 2, 1)]
        got_two = self._multi(
            spark, rows, keys=("prefix", "suffix"), block_len=6, max_dist=1
        )
        assert got_two.count() == 0

    def test_pair_found_by_many_passes_appears_once(self, spark):
        # identical normalized names share every block key — the union
        # must still emit ONE row per pair
        rows = [(1, "Same Name"), (2, "same name ")]
        got = self._multi(spark, rows, block_len=4, max_dist=0).collect()
        assert len(got) == 1 and got[0]["dist"] == 0

    def test_skew_audit_runs_per_pass(self, spark):
        # shared SUFFIX floods one block of the suffix pass even though
        # every prefix block is tiny — the per-pass audit must fire
        rows = [(i, f"{i:06d} shared tail") for i in range(25)]
        with pytest.raises(ValueError, match="max_block"):
            self._multi(spark, rows, block_len=8, max_dist=1, max_block=10)

    def test_custom_callable_key(self, spark):
        # sorted-token key: catches word-order swaps no positional key
        # can (dist here is levenshtein, so allow the real distance)
        key = lambda n: F.array_join(F.array_sort(F.split(n, " ")), " ")  # noqa: E731
        rows = [(1, "corp acme"), (2, "acme corp")]
        got = self._multi(spark, rows, keys=(key,), block_len=4, max_dist=8)
        assert got.count() == 1

    def test_unknown_key_fails_loud(self, spark):
        with pytest.raises(ValueError, match="unknown block key"):
            self._multi(spark, [(1, "x")], keys=("metaphone",))

    def test_empty_keys_fail_loud(self, spark):
        with pytest.raises(ValueError, match="at least one"):
            self._multi(spark, [(1, "x")], keys=())

    def test_plan_one_fused_join_one_audit_shape(self, spark):
        # r11 fusion: the three passes run as ONE self-join on
        # (p, block) — no per-pass join duplication in the plan
        import re

        out = self._multi(
            spark,
            [(1, "acme corp"), (2, "acme corq")],
            block_len=6,
            max_dist=1,
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        joins = re.findall(
            r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", plan
        )
        assert len(joins) == 1

    def test_superset_of_single_pass(self, spark):
        rows = [
            (1, "acme corp"), (2, "acme corq"), (3, "bcme corp"),
            (4, "zeta inc"), (5, "zeta ink"),
        ]
        single = {
            (r["id_a"], r["id_b"])
            for r in fuzzy_pairs(
                _names(spark, rows), "rid", "name", block_len=6, max_dist=1
            ).collect()
        }
        multi = {
            (r["id_a"], r["id_b"])
            for r in self._multi(spark, rows, block_len=6, max_dist=1).collect()
        }
        assert single <= multi
        assert (1, 3) in multi and (1, 3) not in single  # head typo gain


class TestFuzzyPairsDeltaMulti:
    def _multi(self, spark, delta_rows, store_rows, **kw):
        from extract_transform_load_spark.operators.linkage import (
            fuzzy_pairs_delta_multi,
        )

        return fuzzy_pairs_delta_multi(
            _names(spark, delta_rows), _names(spark, store_rows), **kw
        )

    def test_head_typo_batch_invisible_to_single_pass(self, spark):
        from extract_transform_load_spark.operators.linkage import fuzzy_pairs_delta

        delta = [(100, "bcme corp")]  # head-corrupted feed
        store = [(1, "acme corp"), (2, "zzzz inc")]
        assert (
            fuzzy_pairs_delta(
                _names(spark, delta), _names(spark, store), block_len=6, max_dist=1
            ).count()
            == 0
        )
        got = self._multi(spark, delta, store, block_len=6, max_dist=1).collect()
        assert [(r["delta_id"], r["store_id"], r["dist"]) for r in got] == [(100, 1, 1)]

    def test_match_in_many_passes_emitted_once(self, spark):
        got = self._multi(
            spark, [(100, "acme corp")], [(1, "acme corp")], block_len=4, max_dist=0
        ).collect()
        assert len(got) == 1 and got[0]["dist"] == 0

    def test_delta_guard_runs_once_and_fires(self, spark):
        delta = [(i, f"name {i}") for i in range(10)]
        with pytest.raises(ValueError, match="max_delta_broadcast"):
            self._multi(
                spark, delta, [(1, "name 1")], block_len=4, max_dist=1,
                max_delta_broadcast=5,
            )

    def test_store_audit_per_pass(self, spark):
        # the store's suffix blocks flood even though prefixes are fine
        store = [(i, f"{i:06d} same tail") for i in range(25)]
        with pytest.raises(ValueError, match="max_block"):
            self._multi(
                spark, [(100, "000001 same tail")], store,
                block_len=8, max_dist=1, max_block=10,
            )

    def test_plan_delta_broadcasts_store_never_smj(self, spark):
        # r11 fusion: the three passes share ONE physical verify join —
        # the exploded (p, block) delta is the broadcast build side, the
        # exploded store streams — no sort-merge join and no per-pass
        # join duplication anywhere in the plan
        out = self._multi(
            spark, [(100, "acme corp")], [(1, "acme corq")],
            block_len=4, max_dist=1,
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("BroadcastHashJoin") == 1  # ONE fused verify
        assert "SortMergeJoin" not in plan


class TestCapPerGroup:
    def test_cap_and_order(self, spark):
        df = spark.createDataFrame(
            [("s1", 1, 10), ("s1", 2, 30), ("s1", 3, 20), ("s2", 4, 5)],
            "source string, doc_id bigint, score bigint",
        )
        got = cap_per_group(
            df, ["source"], [F.col("score").desc(), F.col("doc_id")], cap=2
        ).collect()
        kept = {(r["source"], r["doc_id"], r["group_rank"]) for r in got}
        assert kept == {("s1", 2, 1), ("s1", 3, 2), ("s2", 4, 1)}

    def test_tiebreak_is_deterministic(self, spark):
        df = spark.createDataFrame(
            [("s", i, 7) for i in range(10)], "source string, doc_id bigint, score bigint"
        )
        for _ in range(2):
            got = cap_per_group(
                df, ["source"], [F.col("score").desc(), F.col("doc_id")], cap=3
            ).collect()
            assert sorted(r["doc_id"] for r in got) == [0, 1, 2]

    def test_cap_validation(self, spark):
        df = spark.createDataFrame([("s", 1)], "source string, doc_id bigint")
        with pytest.raises(ValueError, match="cap"):
            cap_per_group(df, ["source"], [F.col("doc_id")], cap=0)


class TestFuzzyPairsDelta:
    def test_delta_matches_store_only(self, spark):
        delta = _names(spark, [(100, "acme corp")])
        store = _names(
            spark, [(1, "acme corq"), (2, "acme corp"), (3, "other co"),
                    (4, "acme xxxx")]
        )
        from extract_transform_load_spark.operators.linkage import fuzzy_pairs_delta

        got = fuzzy_pairs_delta(delta, store, block_len=4, max_dist=1).collect()
        assert sorted((r["delta_id"], r["store_id"], r["dist"]) for r in got) == [
            (100, 1, 1),
            (100, 2, 0),
        ]

    def test_no_store_store_pairs(self, spark):
        # two near-identical store rows must NOT pair with each other
        delta = _names(spark, [(100, "zzz unique")])
        store = _names(spark, [(1, "acme corp"), (2, "acme corq")])
        from extract_transform_load_spark.operators.linkage import fuzzy_pairs_delta

        assert fuzzy_pairs_delta(delta, store, block_len=4, max_dist=1).count() == 0

    def test_store_side_skew_audit(self, spark):
        delta = _names(spark, [(100, "pfx one")])
        store = _names(spark, [(i, f"pfx {i}") for i in range(30)])
        from extract_transform_load_spark.operators.linkage import fuzzy_pairs_delta

        import pytest as _pt

        with _pt.raises(ValueError, match="max_block"):
            fuzzy_pairs_delta(delta, store, block_len=4, max_dist=1, max_block=10)


class TestTriangleCount:
    def _tri(self, spark, pairs):
        from extract_transform_load_spark.operators.graph import triangle_count

        got = triangle_count(_edges(spark, pairs)).collect()
        return {r["node"]: r["triangles"] for r in got}

    def test_single_triangle(self, spark):
        assert self._tri(spark, [(1, 2), (2, 3), (3, 1)]) == {1: 1, 2: 1, 3: 1}

    def test_square_has_none(self, spark):
        got = self._tri(spark, [(1, 2), (2, 3), (3, 4), (4, 1)])
        assert got == {1: 0, 2: 0, 3: 0, 4: 0}

    def test_k4_every_node_in_three(self, spark):
        k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
        assert self._tri(spark, k4) == {1: 3, 2: 3, 3: 3, 4: 3}

    def test_multiedges_selfloops_direction_ignored(self, spark):
        # duplicates, reversed copies and self-loops must not inflate
        pairs = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 1), (2, 3)]
        assert self._tri(spark, pairs) == {1: 1, 2: 1, 3: 1}

    def test_triangle_plus_pendant(self, spark):
        got = self._tri(spark, [(1, 2), (2, 3), (3, 1), (3, 4)])
        assert got == {1: 1, 2: 1, 3: 1, 4: 0}


class TestWeightedPagerank:
    def _wedges(self, spark, rows):
        return spark.createDataFrame(rows, "src bigint, dst bigint, w bigint")

    def test_heavier_edge_attracts_more_mass(self, spark):
        # 1 splits 9:1 toward 2 over 3; symmetric back-edges keep the
        # graph stochastic
        e = [(1, 2, 9), (1, 3, 1), (2, 1, 1), (3, 1, 1)]
        pr = pagerank(self._wedges(spark, e), iterations=5, weight="w").collect()
        by = {r["node"]: r["rank_units"] for r in pr}
        assert by[2] > by[3]

    def test_uniform_weights_match_unweighted(self, spark):
        pairs = [(1, 2), (2, 3), (3, 1), (1, 3)]
        unw = {
            r["node"]: r["rank_units"]
            for r in pagerank(_edges(spark, pairs), iterations=4).collect()
        }
        w = {
            r["node"]: r["rank_units"]
            for r in pagerank(
                self._wedges(spark, [(a, b, 1) for a, b in pairs]),
                iterations=4,
                weight="w",
            ).collect()
        }
        assert unw == w

    def test_multiplicity_not_deduped(self, spark):
        # a duplicated (1,2) edge row adds a second share toward 2 —
        # weighted edges must NOT be distinct()ed away. (Exact equality
        # with a single w=2 row is NOT asserted: per-edge floor
        # division quantizes each duplicate separately, a documented
        # ±1-unit effect.)
        base = [(1, 3, 1), (2, 1, 1), (3, 1, 1)]
        single = self._wedges(spark, [(1, 2, 1)] + base)
        doubled = self._wedges(spark, [(1, 2, 1), (1, 2, 1)] + base)
        one = {
            r["node"]: r["rank_units"]
            for r in pagerank(single, iterations=3, weight="w").collect()
        }
        two = {
            r["node"]: r["rank_units"]
            for r in pagerank(doubled, iterations=3, weight="w").collect()
        }
        assert one[2] == one[3]  # equal shares when the edge appears once
        assert two[2] > two[3]  # the duplicate row shifts mass toward 2

class TestKCore:
    """Round 9: iterative k-core peeling (graph.py::kcore)."""

    def _core(self, spark, pairs, k, **kw):
        from extract_transform_load_spark.operators.graph import kcore

        got = kcore(_edges(spark, pairs), k, **kw).collect()
        return {r["node"]: r["degree"] for r in got}

    def test_triangle_survives_pendant_peels(self, spark):
        got = self._core(spark, [(1, 2), (2, 3), (3, 1), (3, 4)], k=2)
        assert got == {1: 2, 2: 2, 3: 2}  # 4 peeled, 3's degree drops to 2

    def test_star_two_core_is_empty(self, spark):
        assert self._core(spark, [(1, i) for i in range(2, 6)], k=2) == {}

    def test_k4_three_core_keeps_all(self, spark):
        k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
        assert self._core(spark, k4, k=3) == {1: 3, 2: 3, 3: 3, 4: 3}

    def test_one_core_keeps_every_edge_endpoint(self, spark):
        got = self._core(spark, [(1, 2), (3, 4), (5, 5)], k=1)
        # self-loop-only node 5 has no non-loop edge -> peeled
        assert got == {1: 1, 2: 1, 3: 1, 4: 1}

    def test_path_cascade_needs_rounds_and_check_fires(self, spark):
        path = [(1, 2), (2, 3), (3, 4), (4, 5)]
        # full cascade: ends peel inward until nothing is left
        assert self._core(spark, path, k=2, rounds=3) == {}
        # one round is not enough: nodes 2/4 drop to degree 1 < k after
        # the ends peel — the convergence check must fail loudly
        with pytest.raises(ValueError, match="not converged"):
            self._core(spark, path, k=2, rounds=1)

    def test_extra_rounds_idempotent(self, spark):
        tri = [(1, 2), (2, 3), (3, 1), (3, 4)]
        assert self._core(spark, tri, k=2, rounds=2) == self._core(
            spark, tri, k=2, rounds=6
        )

    def test_validation(self, spark):
        with pytest.raises(ValueError, match="k must"):
            self._core(spark, [(1, 2)], k=0)
        with pytest.raises(ValueError, match="rounds"):
            self._core(spark, [(1, 2)], k=1, rounds=0)

    def test_plan_survivor_lists_broadcast_edges_never_smj(self, spark):
        # per-round physics: the survivor list is broadcast into two
        # semi-joins and the edge frame is never sort-merge-joined —
        # the last round stays a live plan for exactly this audit.
        # The fixture must NOT converge inside `rounds` (r11 early
        # exit): a converged peel returns the checkpointed degree
        # table, so the audit would see a scan instead of the round.
        from extract_transform_load_spark.operators.graph import kcore

        path = [(1, 2), (2, 3), (3, 4), (4, 5)]
        out = kcore(_edges(spark, path), k=2, rounds=1, check_converged=False)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" in plan
        assert "SortMergeJoin" not in plan

    def test_converged_peel_early_exits_to_degree_table(self, spark):
        # r11 early exit: on a graph that IS its own k-core, round 0
        # removes nothing and the peel stops — the returned plan is the
        # already-materialized degree table (no further round work),
        # and the result still matches the non-early-exit fixpoint.
        from extract_transform_load_spark.operators.graph import kcore

        k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
        out = kcore(_edges(spark, k4), k=2, rounds=2, check_converged=False)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan  # no round ran past the check
        assert self._core(spark, k4, k=2, rounds=2) == {1: 3, 2: 3, 3: 3, 4: 3}

    # ---- the shuffle (delta-peeling) engine, forced by a zero edge
    # threshold; the default thresholds keep these graphs on broadcast ----

    def test_engines_byte_equal(self, spark):
        # triangle + tail + a second cycle: deaths cascade over two
        # rounds, survivors keep in-core degrees — both engines must
        # agree exactly (k-core is unique; Seidman 1983)
        g = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 3), (1, 4)]
        b = self._core(spark, g, k=2)
        s = self._core(spark, g, k=2, max_edges_broadcast=0)
        assert b == s
        assert b  # non-vacuous: the 2-core here is non-empty

    def test_engines_agree_when_all_neighbors_die_last_round(self, spark):
        # a survivor whose neighbors ALL die in the final round drops
        # to live degree 0; the broadcast engine (degree recomputed
        # from surviving edges) omits it, so the delta engine must too.
        # Star, k=2, rounds=1, unconverged view: the leaves die, the
        # hub's degree hits 0 — both engines must return the same EMPTY
        # table.
        star = [(1, i) for i in range(2, 6)]
        kw = dict(k=2, rounds=1, check_converged=False)
        b = self._core(spark, star, **kw)
        s = self._core(spark, star, max_edges_broadcast=0, **kw)
        assert b == s == {}

    def test_shuffle_cascade_and_convergence_check(self, spark):
        path = [(1, 2), (2, 3), (3, 4), (4, 5)]
        # the delta peel cascades layer-synchronously like broadcast...
        shuffle = dict(k=2, max_edges_broadcast=0)
        assert self._core(spark, path, rounds=3, **shuffle) == {}
        # ...and the loud convergence contract holds in shuffle mode too
        with pytest.raises(ValueError, match="not converged"):
            self._core(spark, path, rounds=1, **shuffle)

    def test_auto_dispatches_to_shuffle_past_cap(self, spark):
        tri = [(1, 2), (2, 3), (3, 1), (3, 4)]
        auto = self._core(spark, tri, k=2, max_nodes_broadcast=1)
        assert auto == self._core(spark, tri, k=2)

    def test_auto_dispatches_on_edge_count_too(self, spark):
        # the cost dispatch: a 30x-measured crossover means the peel
        # must ALSO route to shuffle when |E| exceeds the edge cap,
        # even while |V| fits the memory guard — byte-equal engines
        # make the routing invisible to results
        tri = [(1, 2), (2, 3), (3, 1), (3, 4)]
        auto = self._core(spark, tri, k=2, max_edges_broadcast=1)
        assert auto == self._core(spark, tri, k=2)

    def test_shuffle_plan_one_exchange_no_broadcast(self, spark, monkeypatch):
        # the delta engine's per-round physics: zero broadcasts, no SMJ,
        # and exactly ONE hashpartitioning exchange (the groupBy(v)
        # decrement shuffle) — edges and the live-degree table stay
        # co-partitioned on the node key across rounds. The fan-out is
        # scale-adaptive: a test-sized graph collapses to ONE
        # partition (zero exchanges — strictly cheaper), so the audit
        # pins the at-scale shape by forcing multi-partition sizing,
        # and uses a fixture that does NOT converge inside `rounds`
        # (early exit would return the checkpointed degree table).
        import re

        from extract_transform_load_spark.operators import graph
        from extract_transform_load_spark.operators.graph import kcore

        monkeypatch.setattr(graph, "_EDGE_ROWS_PER_PARTITION", 1)
        path = [(1, 2), (2, 3), (3, 4), (4, 5)]
        out = kcore(
            _edges(spark, path), k=2, rounds=1,
            check_converged=False, max_edges_broadcast=0,
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Broadcast" not in plan
        assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
        assert "SortMergeJoin" not in plan


def test_aqe_compile_off_is_reentrant(spark, monkeypatch):
    # two overlapping shuffle-engine calls on one session must not
    # leave AQE off session-wide: the FIRST entry saves and disables,
    # the LAST exit restores, and each exit restores the fan-out its
    # own entry replaced
    from extract_transform_load_spark.operators import graph

    aqe, fanout = "spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions"
    monkeypatch.setattr(graph, "_EDGE_ROWS_PER_PARTITION", 1)
    orig = spark.conf.get(aqe, "true"), spark.conf.get(fanout)
    with graph._compile_window(spark, 3) as outer:
        assert spark.conf.get(aqe) == "false"
        assert spark.conf.get(fanout) == str(outer.num) == "3"
        with graph._compile_window(spark, 2) as inner:
            assert spark.conf.get(aqe) == "false"
            assert spark.conf.get(fanout) == str(inner.num) == "2"
        # the inner exit must NOT restore AQE, and must hand the outer
        # window its own fan-out back
        assert spark.conf.get(aqe) == "false"
        assert spark.conf.get(fanout) == "3"
    assert (spark.conf.get(aqe), spark.conf.get(fanout)) == orig
    assert not graph._WINDOWS


def test_compile_window_survives_concurrent_callers(spark):
    # more threads than cores entering and leaving windows on one
    # session: AQE must read off inside every open window, and the
    # session's own conf must come back once the last one closes
    import sys
    import threading

    from extract_transform_load_spark.operators import graph

    aqe, fanout = "spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions"
    orig = spark.conf.get(aqe, "true"), spark.conf.get(fanout)
    seen = []

    def worker(n):
        for _ in range(15):
            with graph._compile_window(spark, n):
                seen.append(spark.conf.get(aqe))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(n,)) for n in range(1, 9)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(seen) == 8 * 15 and set(seen) == {"false"}
    assert (spark.conf.get(aqe), spark.conf.get(fanout)) == orig
    assert not graph._WINDOWS


class TestMinLabelPropagation:
    def _lp(self, spark, pairs, rounds, **kw):
        from extract_transform_load_spark.operators.graph import (
            min_label_propagation,
        )

        got = min_label_propagation(
            _edges(spark, pairs), rounds=rounds, **kw
        ).collect()
        return {r["node"]: r["label"] for r in got}

    def test_one_round_is_one_hop(self, spark):
        path = [(1, 2), (2, 3), (3, 4), (4, 5)]
        assert self._lp(spark, path, rounds=1) == {1: 1, 2: 1, 3: 2, 4: 3, 5: 4}

    def test_enough_rounds_reach_component_min(self, spark):
        path = [(1, 2), (2, 3), (3, 4), (4, 5)]
        assert self._lp(spark, path, rounds=4) == {i: 1 for i in range(1, 6)}

    def test_labels_never_cross_components(self, spark):
        pairs = [(1, 2), (2, 3), (10, 11)]
        got = self._lp(spark, pairs, rounds=5)
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    def test_diameter_bounded_equals_connected_components(self, spark):
        from extract_transform_load_spark.operators.components import (
            connected_components,
        )

        pairs = [(1, 2), (2, 3), (3, 1), (7, 8), (8, 9), (20, 21)]
        lp = self._lp(spark, pairs, rounds=3)
        cc = {
            r["node"]: r["component"]
            for r in connected_components(
                _edges(spark, pairs), src="src", dst="dst"
            ).collect()
        }
        assert lp == cc

    def test_engines_byte_equal(self, spark):
        pairs = TestPagerankEngines.PAIRS
        b = self._lp(spark, pairs, rounds=3)
        s = self._lp(spark, pairs, rounds=3, max_edges_broadcast=0)
        assert b == s

    def test_auto_dispatches_on_edge_count(self, spark):
        pairs = [(1, 2), (2, 3), (10, 11)]
        auto = self._lp(spark, pairs, rounds=2, max_edges_broadcast=1)
        assert auto == self._lp(spark, pairs, rounds=2)

    def test_validation(self, spark):
        import pytest as _pt

        with _pt.raises(ValueError, match="rounds"):
            self._lp(spark, [(1, 2)], rounds=0)

    def test_shuffle_plan_one_exchange_no_broadcast(self, spark, monkeypatch):
        # same audit as pagerank's shuffle engine: the final round's
        # plan carries exactly ONE hashpartitioning exchange (the
        # groupBy(dst) MIN message shuffle), zero broadcasts, no SMJ.
        # Fan-out forced multi-partition (scale-adaptive sizing
        # collapses a test graph to one partition and zero exchanges).
        import re

        from extract_transform_load_spark.operators import graph
        from extract_transform_load_spark.operators.graph import (
            min_label_propagation,
        )

        monkeypatch.setattr(graph, "_EDGE_ROWS_PER_PARTITION", 1)
        out = min_label_propagation(
            _edges(spark, TestPagerankEngines.PAIRS), rounds=2,
            max_edges_broadcast=0,
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Broadcast" not in plan
        assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
        assert "SortMergeJoin" not in plan


class TestPagerankEngines:
    """The shuffle-join engine (ranks and edges co-partitioned by node,
    reused across rounds; forced here by a zero node threshold) must be
    BYTE-EQUAL to the broadcast engine — same int64 fixed-point math,
    different physical plan."""

    # a planted graph with every structural feature the rounds touch:
    # a hub, a cycle, a dangling-ish leaf, asymmetric degrees
    PAIRS = [
        (1, 2), (2, 1), (1, 3), (3, 1), (2, 3), (3, 4), (4, 1), (4, 2),
        (5, 1), (1, 5), (5, 3),
    ]

    def _by(self, df):
        return sorted((r["node"], r["rank_units"]) for r in df.collect())

    def test_plain_engines_byte_equal(self, spark):
        e = _edges(spark, self.PAIRS)
        b = self._by(pagerank(e, iterations=5))
        s = self._by(pagerank(e, iterations=5, max_nodes_broadcast=0))
        assert b == s

    def test_weighted_engines_byte_equal(self, spark):
        rows = [(a, b, (a * 7 + b) % 5 + 1) for a, b in self.PAIRS]
        e = spark.createDataFrame(rows, "src bigint, dst bigint, w bigint")
        b = self._by(pagerank(e, iterations=4, weight="w"))
        s = self._by(pagerank(e, iterations=4, weight="w", max_nodes_broadcast=0))
        assert b == s

    def test_personalized_engines_byte_equal(self, spark):
        e = _edges(spark, self.PAIRS)
        seeds = spark.createDataFrame([(1,), (4,)], "node bigint")
        b = self._by(pagerank(e, iterations=4, seeds=seeds))
        s = self._by(
            pagerank(e, iterations=4, seeds=seeds, max_nodes_broadcast=0)
        )
        assert b == s

    def test_auto_dispatches_to_shuffle_past_cap(self, spark):
        # a width past the broadcast cap must run — and agree — on
        # the shuffle engine
        e = _edges(spark, self.PAIRS)
        auto = self._by(pagerank(e, iterations=3, max_nodes_broadcast=1))
        ref = self._by(pagerank(e, iterations=3))
        assert auto == ref

    def test_shuffle_plan_has_no_broadcast(self, spark, monkeypatch):
        # in shuffle mode the rank vector must NOT be broadcast — no BroadcastExchange (or
        # BroadcastHashJoin) anywhere in the initial physical plan —
        # and the per-round cost is exactly ONE exchange (the
        # groupBy(dst) message shuffle): state (rank+outdeg+tele) and
        # the edge frame are co-partitioned on the node key, which the
        # AQE-off checkpoint compilation preserves across rounds.
        # Fan-out forced multi-partition (scale-adaptive sizing
        # collapses a test graph to one partition and zero exchanges).
        import re

        from extract_transform_load_spark.operators import graph

        monkeypatch.setattr(graph, "_EDGE_ROWS_PER_PARTITION", 1)
        out = pagerank(
            _edges(spark, self.PAIRS), iterations=2, max_nodes_broadcast=0
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Broadcast" not in plan
        assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
        assert "SortMergeJoin" not in plan  # SHJ streams edges unsorted

    def test_tiny_graph_collapses_to_single_partition_plan(self, spark):
        # scale-adaptive fan-out: below _EDGE_ROWS_PER_PARTITION edges
        # the frozen frames land in ONE partition, so the round loop
        # plans with NO exchange at all — the fewer-larger-partitions
        # shape the guide prescribes for small inputs, with the session
        # conf as the ceiling at scale (see _compile_window).
        out = pagerank(
            _edges(spark, self.PAIRS), iterations=2, max_nodes_broadcast=0
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "Broadcast" not in plan


def test_selfloop_only_node_still_zero_filled(spark):
    # a node whose ONLY edge is a self-loop is still a graph node and
    # must appear with 0 triangles (review find)
    from extract_transform_load_spark.operators.graph import triangle_count

    got = {
        r["node"]: r["triangles"]
        for r in triangle_count(_edges(spark, [(1, 1), (2, 3)])).collect()
    }
    assert got == {1: 0, 2: 0, 3: 0}


class TestPersonalizedPagerank:
    def test_seed_proximity_ordering(self, spark):
        # path 1-2-3-4, seed {1}. Two traps pinned here: (a) a
        # degree-1 seed pours ALL its mass into its hub neighbor, so
        # converged PPR puts node 2 ABOVE node 1 — seed-proximity is
        # not seed-maximality; (b) the path is BIPARTITE, so low
        # iteration counts oscillate between the two sides (at 6
        # rounds nodes {1,3} spuriously dominate) — 25 rounds damp the
        # parity swing to ~0.85^25 and match the numpy fixpoint
        # (pi = .30/.36/.23/.10 for nodes 1-4).
        e = [(1, 2), (2, 1), (2, 3), (3, 2), (3, 4), (4, 3)]
        seeds = spark.createDataFrame([(1,)], "node bigint")
        pr = pagerank(_edges(spark, e), iterations=25, seeds=seeds).collect()
        by = {r["node"]: r["rank_units"] for r in pr}
        assert by[2] > by[1] > by[3] > by[4]

    def test_non_seed_gets_zero_teleport_but_flow(self, spark):
        e = [(1, 2), (2, 1)]
        seeds = spark.createDataFrame([(1,)], "node bigint")
        pr = pagerank(_edges(spark, e), iterations=1, seeds=seeds).collect()
        by = {r["node"]: r["rank_units"] for r in pr}
        # round 1: node 2 holds ONLY flowed mass (85% of seed's UNIT),
        # node 1 only teleport (15%)
        from extract_transform_load_spark.operators.graph import UNIT

        assert by[2] == (UNIT * 85) // 100
        assert by[1] == 15 * (UNIT // 100)

    def test_seeds_outside_graph_fail_loud(self, spark):
        seeds = spark.createDataFrame([(99,)], "node bigint")
        with pytest.raises(ValueError, match="seeds"):
            pagerank(_edges(spark, [(1, 2), (2, 1)]), iterations=1, seeds=seeds)

    def test_damping_100_still_seeds(self, spark):
        # damping_pct=100 => teleport 0 everywhere; the initial
        # distribution must come from seed MEMBERSHIP, not `tele > 0` —
        # an all-zero init returned all-zero ranks (ADVICE r8 fix)
        e = [(1, 2), (2, 1)]
        seeds = spark.createDataFrame([(1,)], "node bigint")
        pr = pagerank(
            _edges(spark, e), iterations=1, damping_pct=100, seeds=seeds
        ).collect()
        by = {r["node"]: r["rank_units"] for r in pr}
        # round 1: the whole UNIT flows 1 -> 2, no teleport anywhere
        assert by[2] == UNIT
        assert by[1] == 0
        assert sum(by.values()) == UNIT  # mass conserved, not vanished

    def test_uniform_seed_set_matches_unseeded(self, spark):
        # seeding with ALL nodes == uniform PageRank
        pairs = [(1, 2), (2, 3), (3, 1)]
        seeds = spark.createDataFrame([(1,), (2,), (3,)], "node bigint")
        a = sorted(map(tuple, pagerank(_edges(spark, pairs), iterations=3).collect()))
        b = sorted(
            map(
                tuple,
                pagerank(_edges(spark, pairs), iterations=3, seeds=seeds).collect(),
            )
        )
        assert a == b
