"""Property-based tests (hypothesis): the distributed operators must
agree with a straightforward single-process reference implementation on
arbitrary inputs — the strongest form of the oracle pattern for
operators whose SQL twin is awkward."""

from __future__ import annotations

from datetime import datetime, timedelta

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings, strategies as st

from extract_transform_load_spark.operators.asof import as_of_join
from extract_transform_load_spark.operators.gaps import find_gaps_scalable
from extract_transform_load_spark.operators.latest import latest_per_key

BASE = datetime(2024, 1, 1)

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

ids = st.lists(st.integers(min_value=0, max_value=200), min_size=1, max_size=40, unique=True)


@given(ids=ids)
@SETTINGS
def test_gap_detection_property(spark, ids):
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    got = {(r["gap_start"], r["gap_end"]) for r in find_gaps_scalable(df, "id").collect()}
    s = sorted(ids)
    want = {(a + 1, b - 1) for a, b in zip(s, s[1:]) if b > a + 1}
    assert got == want


events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),    # key
        st.integers(min_value=0, max_value=100),  # minutes offset
    ),
    min_size=1,
    max_size=25,
)
prices_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),
        st.integers(min_value=0, max_value=100),
        st.floats(min_value=0.1, max_value=100, allow_nan=False),
    ),
    min_size=0,
    max_size=25,
)


@given(events=events_strategy, prices=prices_strategy)
@SETTINGS
def test_asof_join_property(spark, events, prices):
    ev = spark.createDataFrame(
        [(i, k, BASE + timedelta(minutes=m)) for i, (k, m) in enumerate(events)],
        "eid long, k long, t timestamp",
    )
    pr = spark.createDataFrame(
        [(k, BASE + timedelta(minutes=m), v, i) for i, (k, m, v) in enumerate(prices)],
        "k long, pt timestamp, v double, idx long",
    )
    got = {
        r["eid"]: r["v_asof"]
        for r in as_of_join(ev, pr, on=["k"], left_ts="t", right_ts="pt",
                            value_cols=["v"], right_order="idx").collect()
    }
    for i, (k, m) in enumerate(events):
        cands = [
            (pm, idx, v)
            for idx, (pk, pm, v) in enumerate(prices)
            if pk == k and pm <= m
        ]
        want = max(cands, key=lambda c: (c[0], c[1]))[2] if cands else None
        assert got[i] == want, f"event {i} key {k}@{m}: got {got[i]} want {want}"


rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),    # key
        st.integers(min_value=0, max_value=50),   # order value
        st.integers(min_value=0, max_value=10_000),  # payload
    ),
    min_size=1,
    max_size=30,
)


@given(rows=rows_strategy)
@SETTINGS
def test_latest_per_key_property(spark, rows):
    df = spark.createDataFrame(
        [(k, o, i, p) for i, (k, o, p) in enumerate(rows)],
        "k long, o long, idx long, payload long",
    )
    got = {r["k"]: r["payload"] for r in latest_per_key(df, ["k"], "o", ["idx"]).collect()}
    want: dict[int, tuple[int, int, int]] = {}
    for i, (k, o, p) in enumerate(rows):
        if k not in want or (o, i) > want[k][:2]:
            want[k] = (o, i, p)
    assert got == {k: v[2] for k, v in want.items()}


nullable_events = st.lists(
    st.tuples(
        st.none() | st.integers(min_value=0, max_value=3),    # key
        st.none() | st.integers(min_value=0, max_value=100),  # minutes offset
    ),
    min_size=1,
    max_size=25,
)
nullable_prices = st.lists(
    st.tuples(
        st.none() | st.integers(min_value=0, max_value=3),
        st.none() | st.integers(min_value=0, max_value=100),
        st.none() | st.floats(min_value=0.1, max_value=100, allow_nan=False),
        st.none() | st.sampled_from(["x", "y", "z"]),
    ),
    min_size=0,
    max_size=25,
)


@given(events=nullable_events, prices=nullable_prices)
@SETTINGS
def test_asof_broadcast_equivalence(spark, events, prices):
    """Both physical forms — union-sort and the dimension-scale broadcast
    form (zero shuffle, sorted-tick arrays behind a broadcast join) —
    answer as LATERAL does: the latest tick by (ts, right_order) is
    picked whole, NULL fields included; a NULL key or timestamp on
    either side matches nothing. Both return the left frame's columns in
    order followed by the values. So as_of_join_auto's choice between
    them cannot change an answer or a column order."""
    from extract_transform_load_spark.operators.asof import as_of_join_auto

    def at(m):
        return None if m is None else BASE + timedelta(minutes=m)

    ev = spark.createDataFrame(
        [(i, k, at(m)) for i, (k, m) in enumerate(events)],
        "eid long, k long, t timestamp",
    )
    pr = spark.createDataFrame(
        [(k, at(m), v, w, i) for i, (k, m, v, w) in enumerate(prices)],
        "k long, pt timestamp, v double, w string, idx long",
    )
    args = dict(on=["k"], left_ts="t", right_ts="pt", value_cols=["v", "w"], right_order="idx")
    want = {}
    for i, (k, m) in enumerate(events):
        cands = [
            (pm, idx, v, w)
            for idx, (pk, pm, v, w) in enumerate(prices)
            if None not in (k, m, pk, pm) and pk == k and pm <= m
        ]
        want[i] = max(cands)[2:] if cands else (None, None)
    broadcast, form = as_of_join_auto(ev, pr, **args)
    assert form == "broadcast"
    columns = []
    for name, out in (("union_sort", as_of_join(ev, pr, **args)), ("broadcast", broadcast)):
        columns.append(out.columns)
        got = {r["eid"]: (r["v_asof"], r["w_asof"]) for r in out.collect()}
        assert got == want, name
    # both keep the left frame's column order and append the values
    assert columns == [["eid", "k", "t", "v_asof", "w_asof"]] * 2


edges_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),
        st.integers(min_value=0, max_value=30),
    ),
    min_size=1,
    max_size=25,
)


@given(edges=edges_strategy)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_connected_components_property(spark, edges):
    from extract_transform_load_spark.operators.components import connected_components

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    in_graph = {n for a, b in edges if a != b for n in (a, b)}
    want = {n: find(n) for n in in_graph}

    df = spark.createDataFrame(edges, "src long, dst long")
    for thr in (2_000_000, None):  # union-find fast path AND star rounds
        got = {
            r["node"]: r["component"]
            for r in connected_components(df, small_graph_threshold=thr).collect()
        }
        assert got == want


merge_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=8),   # pk
        st.integers(min_value=0, max_value=50),  # payload
        st.integers(min_value=0, max_value=9),   # version
    ),
    min_size=0,
    max_size=15,
)


@given(existing=merge_rows, updates=merge_rows, delete_keys=st.lists(st.integers(0, 8), max_size=4))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_merge_plan_property(spark, existing, updates, delete_keys):
    """merge_plan == dict-model MERGE: last-writer-wins across existing
    and updates by version, deletes unconditional. Versions are made
    globally unique (even=existing, odd=updates) because max_by ties
    are architecturally arbitrary — real CDC streams carry unique
    (block, index) orderings for the same reason."""
    from extract_transform_load_spark.sources.merge import merge_plan

    existing = [(pk, v, i * 20 + ver * 2) for i, (pk, v, ver) in enumerate(existing)]
    updates = [(pk, v, i * 20 + ver * 2 + 1) for i, (pk, v, ver) in enumerate(updates)]

    def squash(rows):
        best = {}
        for pk, v, ver in rows:
            if pk not in best or ver > best[pk][2]:
                best[pk] = (pk, v, ver)
        return best

    ex, up = squash(existing), squash(updates)
    model = dict(ex)
    for pk, row in up.items():
        if pk not in model or row[2] > model[pk][2]:
            model[pk] = row
    for pk in delete_keys:
        model.pop(pk, None)
    want = set(model.values())

    schema = "pk long, v long, ver long"
    got_df = merge_plan(
        spark.createDataFrame(list(ex.values()), schema),
        spark.createDataFrame(list(up.values()), schema),
        ["pk"],
        deletes=spark.createDataFrame([(k,) for k in delete_keys], "pk long"),
        order_col="ver",
    )
    got = {(r["pk"], r["v"], r["ver"]) for r in got_df.collect()}
    assert got == want


# --- q103 repeated spans ---------------------------------------------------

docs_strategy = st.lists(
    st.text(alphabet="ab ", min_size=0, max_size=120),
    min_size=1,
    max_size=8,
)


@given(texts=docs_strategy)
@SETTINGS
def test_repeated_spans_reference_property(spark, texts):
    """repeated_spans must equal a single-process re-derivation of the
    same algorithm (winnow anchors -> global count -> island merge), and
    its output must satisfy the span invariants: within-doc spans are
    disjoint, ordered, inside the text, and each at least k chars."""
    from extract_transform_load_spark.operators.dedup import repeated_spans

    k, w = 5, 3
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["n_anchors"])
        for r in repeated_spans(df, k=k, w=w).collect()
    }

    # reference: pure-python winnowing with identical tie-breaks
    import hashlib

    def anchors(text: str) -> set[tuple[int, str]]:
        grams = [hashlib.md5(text[i : i + k].encode()).hexdigest() for i in range(len(text) - k + 1)]
        if not grams:
            return set()
        if len(grams) < w:
            m = min(grams)
            return {(grams.index(m) + 1, m)}
        out = set()
        for j in range(len(grams) - w + 1):
            window = grams[j : j + w]
            m = min(window)
            out.add((j + window.index(m) + 1, m))
        return out

    per_doc = {i: anchors(t) for i, t in enumerate(texts)}
    from collections import Counter

    counts = Counter(fp for a in per_doc.values() for _, fp in a)
    want = set()
    for i, anc in per_doc.items():
        hits = sorted(p for p, fp in anc if counts[fp] >= 2)
        isl: list[list[int]] = []
        for p in hits:
            if isl and p <= isl[-1][1]:
                isl[-1][1] = max(isl[-1][1], p + k)
                isl[-1][2] += 1
            else:
                isl.append([p, p + k, 1])
        for s0, e0, n0 in isl:
            want.add((i, s0, e0, n0))
    assert got == want

    # invariants
    spans_by_doc: dict[int, list[tuple[int, int]]] = {}
    for d, s0, e0, _ in got:
        assert 1 <= s0 < e0 <= len(texts[d]) + 1
        assert e0 - s0 >= k
        spans_by_doc.setdefault(d, []).append((s0, e0))
    for ss in spans_by_doc.values():
        ss.sort()
        for (s1, e1), (s2, _) in zip(ss, ss[1:]):
            assert e1 < s2  # disjoint with a gap (else they'd have merged)


# --- BPE ------------------------------------------------------------------

corpus_strategy = st.lists(
    st.text(alphabet="abc ", min_size=0, max_size=60), min_size=1, max_size=6
)


@given(texts=corpus_strategy)
@SETTINGS
def test_bpe_encode_lossless_property(spark, texts):
    """For ANY corpus: distributed-learned merges == driver-learned
    merges, and encoding is lossless (token concat rebuilds the
    space-stripped text) with every token drawn from chars+merges."""
    from extract_transform_load_spark.operators.bpe import encode_bpe, learn_bpe

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    fast = learn_bpe(df, n_merges=6, min_pair_count=2)
    dist = learn_bpe(df, n_merges=6, min_pair_count=2, collect_threshold=0)
    assert fast == dist

    allowed = {a + b for a, b in fast}
    enc = {r["doc_id"]: r["tokens"] for r in encode_bpe(df, fast).collect()}
    for i, t in enumerate(texts):
        assert "".join(enc[i]) == t.replace(" ", "")
        for tok in enc[i]:
            assert len(tok) == 1 or tok in allowed


@given(events=events_strategy, prices=prices_strategy)
@SETTINGS
def test_asof_backward_matches_pandas(spark, events, prices):
    """as_of_join must agree with pandas merge_asof (backward, the
    de-facto semantics reference) on arbitrary inputs; right timestamps
    are deduped per key first (equal-ts tie order between duplicate
    right rows is unspecified in both engines)."""
    import pandas as pd

    from extract_transform_load_spark.operators.asof import as_of_join

    pr = {(k, m): v for k, m, v in prices}  # dedupe (key, ts)
    ev = spark.createDataFrame(
        [(k, BASE + timedelta(minutes=m)) for k, m in events], "k int, ts timestamp"
    )
    tick_rows = [(k, BASE + timedelta(minutes=m), v) for (k, m), v in sorted(pr.items())]
    ticks = spark.createDataFrame(tick_rows, "k int, pts timestamp, price double")

    lpdf = pd.DataFrame(
        {"k": [k for k, _ in events], "ts": [BASE + timedelta(minutes=m) for _, m in events]}
    ).sort_values(["ts", "k"], kind="stable").reset_index(drop=True)
    rpdf = pd.DataFrame(
        {"k": [r[0] for r in tick_rows], "pts": [r[1] for r in tick_rows],
         "price": [r[2] for r in tick_rows]}
    ).sort_values(["pts", "k"], kind="stable").reset_index(drop=True)

    got = {
        (r["k"], r["ts"]): r["price_asof"]
        for r in as_of_join(
            ev, ticks, on=["k"], left_ts="ts", right_ts="pts", value_cols=["price"]
        ).collect()
    }
    if rpdf.empty:
        want_pairs = {(k, t): None for k, t in zip(lpdf["k"], lpdf["ts"])}
    else:
        m = pd.merge_asof(lpdf, rpdf, left_on="ts", right_on="pts", by="k", direction="backward")
        want_pairs = {
            (k, t): (None if pd.isna(p) else p)
            for k, t, p in zip(m["k"], m["ts"], m["price"])
        }
    assert got == want_pairs


funnel_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),    # user
        st.integers(min_value=0, max_value=40),   # minute
        st.sampled_from(["view", "click", "purchase", "error"]),
    ),
    min_size=0,
    max_size=40,
)


@given(rows=funnel_events)
@SETTINGS
def test_funnel_matches_reference_fold(spark, rows):
    """funnel_stages must equal a single-process greedy-earliest fold
    over (ts, type)-sorted events for every user, on arbitrary inputs
    including duplicate timestamps and noise types."""
    from extract_transform_load_spark.operators.funnel import funnel_stages

    steps = ["view", "click", "purchase"]
    df = spark.createDataFrame(
        [(u, BASE + timedelta(minutes=m), t) for u, m, t in rows],
        "user_id long, ts timestamp, event_type string",
    )
    got = {r["user_id"]: r["stage"] for r in funnel_stages(df, steps).collect()}

    by_user: dict[int, list] = {}
    for u, m, t in rows:
        if t in steps:
            by_user.setdefault(u, []).append((BASE + timedelta(minutes=m), t))
    want = {}
    for u, evs in by_user.items():
        evs.sort()  # (ts, type) — the same total order array_sort uses
        stage, last_ts = 0, None
        for ts_, t in evs:
            if stage < len(steps) and t == steps[stage] and (stage == 0 or ts_ > last_ts):
                stage, last_ts = stage + 1, ts_
        want[u] = stage
    assert got == want


money_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10**9),   # price in cents (2-dp double)
        st.integers(min_value=1, max_value=17),      # line number multiplier
    ),
    min_size=1,
    max_size=60,
)


@given(rows=money_rows)
@SETTINGS
def test_domain_money_derivation_matches_duckdb(spark, rows):
    """The q111-q120 derivation contract (plans/domain.py): exact integer
    cents via a decimal(18,4) cast, and percentage amounts via
    FLOOR(loan_c * k / 100.0), must be bit-identical between Spark and
    DuckDB for any 2-dp price — including .5-boundary and large values."""
    import duckdb
    import pandas as pd

    from extract_transform_load_spark.plans.domain import _cents, _pct

    sdf = spark.createDataFrame(
        [(c / 100.0, ln) for c, ln in rows], "price double, ln int"
    )
    got = sorted(
        tuple(r)
        for r in sdf.select(
            _cents("price").alias("cents"),
            _pct(_cents("price"), F.col("ln")).alias("pct_ln"),
            _pct(_cents("price"), F.col("ln") * 12).alias("pct_12ln"),
        ).collect()
    )
    pdf = pd.DataFrame([(c / 100.0, ln) for c, ln in rows], columns=["price", "ln"])
    want = sorted(
        tuple(r)
        for r in duckdb.connect().execute(
            """
            SELECT CAST(CAST(CAST(price AS DECIMAL(18,4)) * 100 AS DECIMAL(38,0)) AS BIGINT),
                   CAST(FLOOR(CAST(CAST(CAST(price AS DECIMAL(18,4)) * 100 AS DECIMAL(38,0)) AS BIGINT) * ln / 100.0) AS BIGINT),
                   CAST(FLOOR(CAST(CAST(CAST(price AS DECIMAL(18,4)) * 100 AS DECIMAL(38,0)) AS BIGINT) * ln * 12 / 100.0) AS BIGINT)
            FROM pdf
            """,
        ).fetchall()
    )
    assert got == want


@given(texts=docs_strategy)
@SETTINGS
def test_cross_doc_spans_reference_property(spark, texts):
    """cross_doc_spans must equal a single-process re-derivation of the
    same algorithm: naive O(n*w) winnowing selection (independent of the
    operator's monotonic-deque core), anchor-df cut, per-fp pair seeds,
    char-by-char maximal extension — plus the output invariants (spans
    inside both texts, the two sides carry the identical substring,
    length >= min_len)."""
    from extract_transform_load_spark.operators.dedup import cross_doc_spans

    k, w, min_len, max_fp_docs = 5, 3, 8, 4
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        tuple(r)
        for r in cross_doc_spans(
            df, k=k, w=w, min_len=min_len, max_fp_docs=max_fp_docs
        ).collect()
    }
    # round-7 diagonal seed thinning is lossless by construction
    # (overlapping k-grams) — pin it against the unthinned form too
    unthinned = {
        tuple(r)
        for r in cross_doc_spans(
            df, k=k, w=w, min_len=min_len, max_fp_docs=max_fp_docs, thin_seeds=False
        ).collect()
    }
    assert got == unthinned

    import hashlib

    def anchors(text: str) -> set[tuple[int, str]]:
        grams = [hashlib.md5(text[i : i + k].encode()).hexdigest() for i in range(len(text) - k + 1)]
        if not grams:
            return set()
        if len(grams) < w:
            m = min(grams)
            return {(grams.index(m) + 1, m)}
        out = set()
        for j in range(len(grams) - w + 1):
            window = grams[j : j + w]
            m = min(window)
            out.add((j + window.index(m) + 1, m))
        return out

    per_doc = {i: anchors(t) for i, t in enumerate(texts)}
    by_fp: dict[str, list[tuple[int, int]]] = {}
    for i, anc in per_doc.items():
        for p, fp in anc:
            by_fp.setdefault(fp, []).append((i, p))
    want = set()
    for fp, occ in by_fp.items():
        if not 2 <= len({d for d, _ in occ}) <= max_fp_docs:
            continue
        if len(occ) > 64:  # the periodic-text occurrence cap, default param
            continue
        for a_doc, apos in occ:
            for b_doc, bpos in occ:
                if a_doc >= b_doc:
                    continue
                at, bt = texts[a_doc], texts[b_doc]
                i0, j0 = apos - 1, bpos - 1
                lx = 0
                while i0 - lx - 1 >= 0 and j0 - lx - 1 >= 0 and at[i0 - lx - 1] == bt[j0 - lx - 1]:
                    lx += 1
                rx = 0
                while i0 + rx < len(at) and j0 + rx < len(bt) and at[i0 + rx] == bt[j0 + rx]:
                    rx += 1
                if lx + rx >= min_len:
                    span = at[i0 - lx : i0 + rx]
                    want.add((a_doc, b_doc, apos - lx, apos + rx, bpos - lx,
                              bpos + rx, lx + rx,
                              hashlib.md5(span.encode()).hexdigest()))
    assert got == want

    # invariants: both sides in-bounds and carry the identical substring
    for a_doc, b_doc, a_s, a_e, b_s, b_e, ln, _md5 in got:
        at, bt = texts[a_doc], texts[b_doc]
        assert ln == a_e - a_s == b_e - b_s >= min_len
        assert 1 <= a_s and a_e <= len(at) + 1
        assert 1 <= b_s and b_e <= len(bt) + 1
        assert at[a_s - 1 : a_e - 1] == bt[b_s - 1 : b_e - 1]
