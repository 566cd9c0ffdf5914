"""Property-based invariants (hypothesis): the guarantees that must
hold for ANY input, not just the fixtures — salted ops equal their
unsalted twins, merge equals union, redaction leaves no PII behind.

max_examples is kept small: every example runs real Spark jobs.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

keys = st.sampled_from(["a", "b", "hot", "x"])
rows = st.lists(st.tuples(keys, st.floats(-1e6, 1e6)), min_size=1, max_size=50)


@given(data=rows, salt=st.integers(2, 8))
@settings(**SETTINGS)
def test_salted_agg_equals_plain_for_any_input(spark, data, salt):
    from distributed_file_system_with_stream_processing_spark.operators import skew as K

    df = spark.createDataFrame(data, "k string, v double")
    plain = {
        r["k"]: (r["cnt"], round(r["s"] or 0.0, 6))
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("v").alias("s"))
        .collect()
    }
    salted = {
        r["k"]: (r["cnt"], round(r["s"] or 0.0, 6))
        for r in K.salted_agg(
            df, ["k"], {"cnt": ("count", "*"), "s": ("sum", "v")}, salt=salt
        ).collect()
    }
    assert plain == salted


@given(
    base=st.lists(st.integers(0, 100), min_size=1, max_size=10),
    batches=st.lists(
        st.lists(st.integers(0, 100), min_size=1, max_size=5), max_size=3
    ),
)
@settings(**SETTINGS)
def test_tablestore_merge_equals_union(spark, tmp_path_factory, base, batches):
    from distributed_file_system_with_stream_processing_spark.dfs import TableStore

    store = TableStore(spark, str(tmp_path_factory.mktemp("prop_store")))
    mk = lambda xs: spark.createDataFrame([(x,) for x in xs], "v long")  # noqa: E731
    store.create("t", mk(base))
    for b in batches:
        store.append("t", mk(b))
    store.merge("t")
    got = sorted(r["v"] for r in store.get("t").collect())
    want = sorted(base + [x for b in batches for x in b])
    assert got == want


@given(
    pre=st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=30),
    post=st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=30),
)
@settings(**SETTINGS)
def test_redact_always_removes_planted_email(spark, pre, post):
    from distributed_file_system_with_stream_processing_spark.functions import text as T

    s = f"{pre} contact.me@example.org {post}"
    df = spark.createDataFrame([(s,)], "text string")
    out = df.select(T.redact_pii(F.col("text")).alias("r")).first()["r"]
    assert "contact.me@example.org" not in out
    assert "<EMAIL>" in out


word = st.text(alphabet="abcdefg", min_size=1, max_size=4)
doc_words = st.lists(word, min_size=0, max_size=30)


@given(
    shared=st.lists(word, min_size=6, max_size=6),
    pre_a=doc_words, post_a=doc_words, pre_b=doc_words, post_b=doc_words,
)
@settings(**SETTINGS)
def test_winnowing_guarantee_for_any_shared_run(
    spark, shared, pre_a, post_a, pre_b, post_b
):
    """Winnowing's SIGMOD'03 guarantee as a PROPERTY: for ANY two
    documents sharing a run of k + w - 1 = 6 words, the fingerprint
    sets intersect — whatever surrounds the run."""
    from distributed_file_system_with_stream_processing_spark.functions import text as T

    mk = lambda ws: " ".join(ws)  # noqa: E731
    df = spark.createDataFrame(
        [(1, mk(pre_a + shared + post_a)), (2, mk(pre_b + shared + post_b))],
        "doc_id long, text string",
    )
    fps = {
        r["doc_id"]: set(r["fps"])
        for r in df.select(
            "doc_id",
            T.winnow_from_hashes(
                T.gram_hashes(T.words(F.col("text")), 3), 4
            ).alias("fps"),
        ).collect()
    }
    assert fps[1] & fps[2], (fps, shared)


@given(
    base=st.lists(st.integers(0, 100), min_size=1, max_size=8),
    batches=st.lists(
        st.lists(st.integers(0, 100), min_size=1, max_size=4), min_size=2, max_size=4
    ),
)
@settings(**SETTINGS)
def test_compact_appends_preserves_get_for_any_log(
    spark, tmp_path_factory, base, batches
):
    """For ANY append log, compact_appends changes nothing a reader
    can observe: get() multiset, per-row _append_seq stamps, and the
    post-merge table all equal the uncompacted twin's."""
    from distributed_file_system_with_stream_processing_spark.dfs import TableStore

    mk = lambda xs: spark.createDataFrame([(x,) for x in xs], "v long")  # noqa: E731
    root = tmp_path_factory.mktemp("prop_compact")
    plain, compacted = TableStore(spark, str(root / "p")), TableStore(spark, str(root / "c"))
    for store in (plain, compacted):
        store.create("t", mk(base))
    seqs = {}
    for b in batches:
        s_p = plain.append("t", mk(b))
        s_c = compacted.append("t", mk(b))
        seqs[s_c] = s_p
    assert compacted.compact_appends("t") == len(batches)

    obs = lambda st_, with_seq: sorted(  # noqa: E731
        tuple(r) for r in st_.get("t", with_seq=with_seq).collect()
    )
    assert obs(compacted, False) == obs(plain, False)
    # per-row stamps survive compaction (modulo each store's own seq names)
    c_rows = sorted((r["v"], r["_append_seq"]) for r in compacted.get("t", with_seq=True).collect())
    p_rows = sorted((r["v"], seqs.get(r["_append_seq"], r["_append_seq"]))
                    for r in plain.get("t", with_seq=True).collect())
    assert [(v, seqs.get(s, s)) for v, s in c_rows] == p_rows
    compacted.merge("t"); plain.merge("t")
    assert obs(compacted, False) == obs(plain, False)


@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            max_size=60,
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(**SETTINGS)
def test_pretokenize_counts_match_python_re_for_any_ascii(spark, texts):
    """docs_pretokenize_stats' piece census must agree with Python's
    `re` on the same pattern for ANY printable-ASCII text — pinning
    that the Java-regex expr (with its doubled-backslash literal) and
    the documented pattern are the same language."""
    import re

    from distributed_file_system_with_stream_processing_spark.plans.llm_ops4 import (
        _PRETOK_RE,
        docs_pretokenize_stats,
    )

    rows = [(i, t, "en", "src", len(t)) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )

    import distributed_file_system_with_stream_processing_spark.plans.llm_ops4 as M
    from distributed_file_system_with_stream_processing_spark.sources import tables as TT

    # drive the same expressions directly over the synthetic frame
    got = {}
    staged = df.select(
        "doc_id",
        F.expr(f"size(regexp_extract_all(text, '{M._PRETOK_RE_SPARK}', 0))").alias("n"),
    )
    for r in staged.collect():
        got[r["doc_id"]] = r["n"]
    pat = re.compile(_PRETOK_RE)
    for i, t in enumerate(texts):
        assert got[i] == len(pat.findall(t)), (t, got[i], pat.findall(t))


@given(
    words=st.lists(
        st.text(alphabet="abcdef", min_size=1, max_size=4), min_size=16, max_size=40
    )
)
@settings(**SETTINGS)
def test_exact_substring_detects_any_verbatim_duplicate(spark, words):
    """A document duplicated verbatim must collide with its copy on
    EVERY 16-token window: the pair (0, 1) appears with n_shared equal
    to the doc's distinct window count — the exact-substring
    guarantee for any token sequence of length ≥ 16."""
    from distributed_file_system_with_stream_processing_spark.functions import text as T
    from distributed_file_system_with_stream_processing_spark.plans.llm_ops4 import (
        _ES_K,
        dedup_exact_substring,
    )

    text = " ".join(words)
    df = spark.createDataFrame(
        [(0, text, "en", "s", len(text)), (1, text, "en", "s", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    g = (
        df.select("doc_id", T.words(F.col("text")).alias("ws"))
        .select("doc_id", F.explode(T.gram_hashes(F.col("ws"), _ES_K)).alias("h"))
        .distinct()
    )
    n_windows = g.filter(F.col("doc_id") == 0).count()
    # drive the operator body over the synthetic frame via a temp dir
    import os

    import tempfile

    with tempfile.TemporaryDirectory() as d:
        # the query reads only the documents table from sf_dir
        df.write.parquet(os.path.join(d, "documents.parquet"))
        pairs = {
            (r["doc_id_a"], r["doc_id_b"]): r["n_shared"]
            for r in dedup_exact_substring(spark, d).collect()
        }
    assert pairs.get((0, 1)) == n_windows and n_windows >= 1


ev_rows = st.lists(
    st.tuples(
        st.integers(0, 3),  # user
        st.sampled_from(["click", "view", "buy"]),
        st.integers(0, 1_000),  # ts offset seconds
    ),
    min_size=2,
    max_size=40,
)


@given(data=ev_rows, split=st.integers(0, 1_000))
@settings(**SETTINGS)
def test_transition_counts_decompose_at_any_split(spark, data, split):
    """For ANY event set and ANY time split: the batch lead()-window
    transition counts equal a pure-Python chain, AND the split-stream
    decomposition (segment deltas + the remembered per-user tail, the
    TransitionCountOp state contract) sums to exactly the same counts
    — the invariant that makes the streaming op correct for every
    ts-ordered arrival pattern, not just the fixture."""
    import datetime as dt

    from distributed_file_system_with_stream_processing_spark.streaming import ops as O

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, t, base + dt.timedelta(seconds=s), u)
        for i, (u, t, s) in enumerate(data)
    ]
    schema = "event_id long, event_type string, ts timestamp, user_id long"
    op = O.TransitionCountOp("t")
    got = {
        (r["user_id"], r["prev_type"], r["next_type"]): r["delta"]
        for r in op(spark.createDataFrame(rows, schema)).collect()
    }

    # pure-Python reference over (ts, event_id)-ordered per-user seqs
    per_user: dict[int, list[tuple]] = {}
    for i, (u, t, s) in enumerate(data):
        per_user.setdefault(u, []).append((s, i, t))
    want: dict[tuple, int] = {}
    for u, evs in per_user.items():
        seq = [t for _, _, t in sorted(evs)]
        for a, b in zip(seq, seq[1:]):
            want[(u, a, b)] = want.get((u, a, b), 0) + 1
    assert got == want

    # split-stream decomposition with carried per-user tails
    cut = base + dt.timedelta(seconds=split)
    carried: dict[int, str] = {}
    summed: dict[tuple, int] = {}
    for segment in (
        [r for r in rows if r[2] <= cut],
        [r for r in rows if r[2] > cut],
    ):
        per: dict[int, list[tuple]] = {}
        for i, t, ts, u in segment:
            per.setdefault(u, []).append((ts, i, t))
        for u, evs in per.items():
            seq = [t for _, _, t in sorted(evs)]
            chain = ([carried[u]] if u in carried else []) + seq
            for a, b in zip(chain, chain[1:]):
                summed[(u, a, b)] = summed.get((u, a, b), 0) + 1
            carried[u] = seq[-1]
    assert summed == want


@given(
    edges=st.lists(
        st.tuples(st.integers(1, 12), st.integers(1, 12)),
        min_size=1,
        max_size=20,
    ),
    rounds=st.integers(1, 3),
)
@settings(**SETTINGS)
def test_label_propagation_matches_python_for_any_graph(spark, edges, rounds):
    """Deterministic synchronous LPA is a pure function of the edge
    set: for ANY small graph (self-loops and duplicates included in
    the input — the operator must normalize them) the Spark plan
    equals an independent pure-Python evaluator."""
    import collections

    from distributed_file_system_with_stream_processing_spark.operators import dedup as D

    df = spark.createDataFrame(edges, "doc_id_a long, doc_id_b long")
    got = {
        r["node"]: r["community"]
        for r in D.label_propagation(df, n_rounds=rounds).collect()
    }
    adj = collections.defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    lab = {u: u for u in adj}
    for _ in range(rounds):
        new = {}
        for u in adj:
            votes = collections.Counter(lab[v] for v in adj[u])
            votes[lab[u]] += 1
            new[u] = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        lab = new
    assert got == lab


# -- merge_pairs_disjoint == sequential merge_pair, any disjoint batch ------

_sym = st.sampled_from(["a", "b", "c", "d", "e", "f", "g", "h"])
_words = st.lists(
    st.text(alphabet="abcdefgh", min_size=1, max_size=10), min_size=1, max_size=12
)


@st.composite
def _disjoint_rules(draw):
    """1-4 merge rules over pairwise-DISJOINT symbols (the
    merge_pairs_disjoint soundness precondition)."""
    syms = draw(
        st.lists(_sym, min_size=2, max_size=8, unique=True)
    )
    rules = []
    for i in range(0, len(syms) - 1, 2):
        rules.append((syms[i], syms[i + 1]))
    return rules[: draw(st.integers(1, max(1, len(rules))))]


def _py_greedy_merge(word: list[str], a: str, b: str) -> list[str]:
    out, i = [], 0
    while i < len(word):
        if i + 1 < len(word) and word[i] == a and word[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(word[i])
            i += 1
    return out


@given(words=_words, rules=_disjoint_rules())
@settings(**SETTINGS)
def test_merge_pairs_disjoint_equals_sequential_for_any_batch(spark, words, rules):
    """The single-fold batched merge must equal applying the rules
    SEQUENTIALLY (greedy left-to-right, one rule at a time) for any
    word and any symbol-disjoint rule batch — the soundness claim the
    batched BPE trainer's exactness proof leans on."""
    from distributed_file_system_with_stream_processing_spark.operators import bpe as B

    df = spark.createDataFrame([(w,) for w in words], "word string").select(
        "word", F.split("word", "").alias("syms")
    )
    got = {
        r["word"]: list(r["m"])
        for r in df.select(
            "word", B.merge_pairs_disjoint(F.col("syms"), rules).alias("m")
        ).collect()
    }
    for w in set(words):
        expect = list(w)
        for a, b in rules:
            expect = _py_greedy_merge(expect, a, b)
        assert got[w] == expect, (w, rules, got[w], expect)


# -- stateful-op folds driven without Spark --------------------------------


class _FakeState:
    """The slice of GroupState a fold touches. ``hasTimedOut`` and
    ``watermark_ms`` are set by the test; ``timeout_ms`` records the
    last registered event-time timeout."""

    def __init__(self, watermark_ms=0):
        self.exists = False
        self._v = None
        self.hasTimedOut = False
        self.watermark_ms = watermark_ms
        self.timeout_ms = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)
        self.exists = True

    def remove(self):
        self._v = None
        self.exists = False

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms

    def getCurrentWatermarkMs(self):
        return self.watermark_ms


class _StubDF:
    """Stands in for a streaming DataFrame: every projection returns
    itself, and the grouped ``applyInPandasWithState`` call records the
    closure instead of planning it."""

    isStreaming = True

    def __init__(self):
        self.captured = {}

    def selectExpr(self, *_, **__):
        return self

    def dropna(self, *_, **__):
        return self

    def withWatermark(self, *_):
        return self

    def groupBy(self, *_):
        return self

    def applyInPandasWithState(self, fn, *a, **k):
        self.captured["fn"] = fn
        self.captured["args"] = a


def _capture_update(op):
    """The REAL update closure (the exact code Spark runs) that
    ``op.stream_apply`` hands to applyInPandasWithState."""
    stub = _StubDF()
    op.stream_apply(stub)
    return stub.captured["fn"]


def test_keyed_fold_owns_the_state_protocol():
    """_keyed_fold without Spark: a key's first step sees None, the
    state tuple round-trips between calls, all-empty chunks emit an
    empty frame with out_schema's columns and leave state alone, and a
    lone non-empty chunk reaches step without a copy."""
    import pandas as pd

    from distributed_file_system_with_stream_processing_spark.streaming.ops import (
        _columns,
        _keyed_fold,
    )

    calls = []

    def step(key, pdf, state):
        calls.append((state, pdf))
        n = (state[0] if state else 0) + len(pdf)
        return (n, [key[0]] * n), [(key[0], n)]

    stub = _StubDF()
    _keyed_fold(stub, ["k"], "k string, n long", "n long, seen array<string>", step)
    update = stub.captured["fn"]
    assert stub.captured["args"][:3] == ("k string, n long", "n long, seen array<string>", "update")

    empty = pd.DataFrame({"k": []})
    chunk = pd.DataFrame({"k": ["a", "a"]})
    st_ = _FakeState()
    [out] = update(("a",), iter([empty, chunk]), st_)
    assert calls[0][0] is None
    assert calls[0][1] is chunk
    assert out.values.tolist() == [["a", 2]]
    assert st_.get == (2, ["a", "a"])

    [out] = update(("a",), iter([chunk.iloc[:1], chunk]), st_)
    assert calls[1][0] == (2, ["a", "a"])
    assert len(calls[1][1]) == 3
    assert out.values.tolist() == [["a", 5]]
    assert st_.get == (5, ["a"] * 5)

    [out] = update(("a",), iter([empty, empty]), st_)
    assert list(out.columns) == ["k", "n"] and len(out) == 0
    assert st_.get == (5, ["a"] * 5)
    fresh = _FakeState()
    [out] = update(("b",), iter([]), fresh)
    assert list(out.columns) == ["k", "n"] and len(out) == 0
    assert not fresh.exists
    assert len(calls) == 2

    assert _columns("a map<string,long>, b decimal(10,2), c long") == ["a", "b", "c"]


def test_keyed_fold_expiry_protocol():
    """_keyed_fold's event-time expiry without Spark: after each step
    ``deadline`` registers a timeout (or none, when it returns None);
    on a timed-out call ``on_expire`` replaces ``step`` and either
    removes the state, keeps it without a new timeout, or emits rows
    and then removes it. Without an expiry the fold passes NoTimeout."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from distributed_file_system_with_stream_processing_spark.streaming.ops import (
        _keyed_fold,
    )

    def step(key, pdf, state):
        n = (state[0] if state else 0) + len(pdf)
        return (n,), [(key[0], n)]

    def capture(expiry=None):
        stub = _StubDF()
        _keyed_fold(stub, ["k"], "k string, n long", "n long", step, expiry=expiry)
        return stub.captured

    assert capture()["args"][3] == GroupStateTimeout.NoTimeout

    expired = []

    def deadline(state, wm_ms):
        return None if state[0] >= 10 else max(state[0] * 1000, wm_ms + 1)

    def fold_with(on_expire):
        def recorded(key, state):
            expired.append((key, state))
            return on_expire(key, state)

        cap = capture((deadline, recorded))
        assert cap["args"][3] == GroupStateTimeout.EventTimeTimeout
        return cap["fn"]

    chunk = pd.DataFrame({"k": ["a", "a", "a"]})

    # remove on expiry: no rows, state gone
    update = fold_with(lambda key, state: (None, []))
    st_ = _FakeState(watermark_ms=500)
    [out] = update(("a",), iter([chunk]), st_)
    assert out.values.tolist() == [["a", 3]]
    assert st_.get == (3,) and st_.timeout_ms == 3000
    st_.watermark_ms = 5000
    [out] = update(("a",), iter([chunk]), st_)
    assert st_.get == (6,) and st_.timeout_ms == 6000
    st_.hasTimedOut, st_.timeout_ms = True, None
    [out] = update(("a",), iter([]), st_)
    assert expired == [(("a",), (6,))]
    assert list(out.columns) == ["k", "n"] and len(out) == 0
    assert not st_.exists and st_.timeout_ms is None

    # the deadline clamps past the watermark
    fresh = _FakeState(watermark_ms=7000)
    list(update(("b",), iter([chunk]), fresh))
    assert fresh.timeout_ms == 7001

    # keep on expiry: the state stays, no new timeout is registered
    update = fold_with(lambda key, state: (state, []))
    st_ = _FakeState()
    list(update(("a",), iter([chunk]), st_))
    st_.hasTimedOut, st_.timeout_ms = True, None
    [out] = update(("a",), iter([]), st_)
    assert len(out) == 0
    assert st_.exists and st_.get == (3,) and st_.timeout_ms is None

    # emit, then remove
    update = fold_with(lambda key, state: (None, [(key[0], -state[0])]))
    st_ = _FakeState()
    list(update(("c",), iter([chunk]), st_))
    st_.hasTimedOut = True
    [out] = update(("c",), iter([]), st_)
    assert out.values.tolist() == [["c", -3]]
    assert not st_.exists

    # a deadline of None registers nothing
    st_ = _FakeState()
    list(update(("d",), iter([pd.DataFrame({"k": ["d"] * 10})]), st_))
    assert st_.get == (10,) and st_.timeout_ms is None


# -- ReconcileOp state machine: any arrival order, any trigger split ------

_recon_orders = st.lists(
    st.tuples(
        st.integers(0, 5),                      # order key
        st.sampled_from(["P1", "P2"]),          # priority
        st.integers(0, 300),                    # header cents
        st.lists(st.integers(0, 200), max_size=3),  # line cents
        st.booleans(),                          # header present?
    ),
    min_size=1,
    max_size=6,
    unique_by=lambda t: t[0],
)


@given(orders=_recon_orders, seed=st.integers(0, 2**32 - 1), n_triggers=st.integers(1, 4))
@settings(max_examples=200, deadline=None)
def test_reconcile_update_converges_for_any_arrival_order(orders, seed, n_triggers):
    """Drive ReconcileOp's state-machine update() directly (no Spark —
    hundreds of examples): for ANY record set, ANY arrival order and
    ANY partition into triggers, the summed retraction deltas equal
    the direct classification. This is the guarantee the streaming
    tests sample; here it's exhaustive."""
    import random

    import pandas as pd

    from distributed_file_system_with_stream_processing_spark.streaming.ops import (
        ReconcileOp,
    )

    op = ReconcileOp("prop", tol_cents=1)
    # build the record rows
    records = []
    for key, pri, hdr_c, lines, has_hdr in orders:
        if has_hdr:
            records.append((key, "H", pri, hdr_c))
        for c in lines:
            records.append((key, "L", None, c))
    if not records:
        return
    rng = random.Random(seed)
    rng.shuffle(records)
    # split into triggers, group by key within each, drive update()
    bounds = sorted(rng.randrange(len(records) + 1) for _ in range(n_triggers - 1))
    chunks, prev = [], 0
    for b in [*bounds, len(records)]:
        chunks.append(records[prev:b])
        prev = b
    states: dict[int, _FakeState] = {}
    sums: dict[tuple, int] = {}

    update = _capture_update(op)

    for chunk in chunks:
        by_key: dict[int, list] = {}
        for r in chunk:
            by_key.setdefault(r[0], []).append(r)
        for key, rs in by_key.items():
            st_ = states.setdefault(key, _FakeState())
            pdf = pd.DataFrame(rs, columns=["order_key", "kind", "priority", "cents"])
            for out in update((key,), iter([pdf]), st_):
                for _, row in out.iterrows():
                    k = (row["priority"], row["cls"])
                    sums[k] = sums.get(k, 0) + row["delta"]
    sums = {k: v for k, v in sums.items() if v}

    # direct classification
    want: dict[tuple, int] = {}
    for key, pri, hdr_c, lines, has_hdr in orders:
        if not has_hdr and not lines:
            continue
        li_c, n_lines = sum(lines), len(lines)
        if has_hdr and n_lines == 0:
            k = (pri, "EMPTY")
        elif has_hdr:
            k = (pri, "MATCHED" if abs(hdr_c - li_c) <= 1 else "MISMATCHED")
        else:
            k = ("ORPHAN_LINEITEM", "ORPHAN")
        want[k] = want.get(k, 0) + 1
    assert sums == want


# -- ReconcileOp duplicate headers: max-parity with the batch twin --------

_recon_dup_orders = st.lists(
    st.tuples(
        st.integers(0, 3),  # order key
        st.lists(  # MULTIPLE headers per order, different pri/cents
            st.tuples(st.sampled_from(["P1", "P2", "P3"]), st.integers(0, 300)),
            max_size=3,
        ),
        st.lists(st.integers(0, 200), max_size=3),  # line cents
    ),
    min_size=1,
    max_size=4,
    unique_by=lambda t: t[0],
)


@given(orders=_recon_dup_orders, seed=st.integers(0, 2**32 - 1), n_triggers=st.integers(1, 4))
@settings(max_examples=200, deadline=None)
def test_reconcile_duplicate_headers_match_batch_max(orders, seed, n_triggers):
    """An order with SEVERAL headers carrying different priority/cents
    must classify identically on both twins for any arrival order and
    trigger split: the batch side takes independent F.max(priority) /
    F.max(cents); the streaming fold must take the same maxes over
    micro-batch ∪ carried state — not first-arrival (ADVICE r6: the
    iloc[0] / last-trigger-wins divergence)."""
    import random

    import pandas as pd

    from distributed_file_system_with_stream_processing_spark.streaming.ops import (
        ReconcileOp,
    )

    op = ReconcileOp("dup", tol_cents=1)
    records = []
    for key, headers, lines in orders:
        for pri, c in headers:
            records.append((key, "H", pri, c))
        for c in lines:
            records.append((key, "L", None, c))
    if not records:
        return
    rng = random.Random(seed)
    rng.shuffle(records)
    bounds = sorted(rng.randrange(len(records) + 1) for _ in range(n_triggers - 1))
    chunks, prev = [], 0
    for b in [*bounds, len(records)]:
        chunks.append(records[prev:b])
        prev = b

    update = _capture_update(op)

    states: dict[int, _FakeState] = {}
    sums: dict[tuple, int] = {}
    for chunk in chunks:
        by_key: dict[int, list] = {}
        for r in chunk:
            by_key.setdefault(r[0], []).append(r)
        for key, rs in by_key.items():
            st_ = states.setdefault(key, _FakeState())
            pdf = pd.DataFrame(rs, columns=["order_key", "kind", "priority", "cents"])
            for out in update((key,), iter([pdf]), st_):
                for _, row in out.iterrows():
                    k = (row["priority"], row["cls"])
                    sums[k] = sums.get(k, 0) + row["delta"]
    sums = {k: v for k, v in sums.items() if v}

    # the batch twin's classification: independent maxes over headers
    want: dict[tuple, int] = {}
    for key, headers, lines in orders:
        if not headers and not lines:
            continue
        li_c, n_lines = sum(lines), len(lines)
        if headers:
            pri = max(p for p, _ in headers)  # F.max over strings
            hdr_c = max(c for _, c in headers)
            if n_lines == 0:
                k = (pri, "EMPTY")
            else:
                k = (pri, "MATCHED" if abs(hdr_c - li_c) <= 1 else "MISMATCHED")
        else:
            k = ("ORPHAN_LINEITEM", "ORPHAN")
        want[k] = want.get(k, 0) + 1
    assert sums == want


# -- ErrorBurstOp: any in-order trigger split closes the same runs ---------


@given(
    seq=st.lists(st.booleans(), min_size=1, max_size=30),  # True = error
    n_triggers=st.integers(1, 5),
    seed=st.integers(0, 2**32 - 1),
)
@settings(max_examples=200, deadline=None)
def test_error_burst_update_counts_closed_runs(seq, n_triggers, seed):
    """Drive ErrorBurstOp's update() directly: for ANY error/non-error
    sequence and ANY in-order split into triggers, the summed deltas
    equal the closed-run histogram (a trailing open run stays in
    state, not in the output)."""
    import random

    import pandas as pd

    from distributed_file_system_with_stream_processing_spark.streaming.ops import (
        ErrorBurstOp,
    )

    op = ErrorBurstOp("prop")
    update = _capture_update(op)

    rows = [
        (i, "error" if is_err else "view", i)  # (sec, type, event_id)
        for i, is_err in enumerate(seq)
    ]
    rng = random.Random(seed)
    bounds = sorted(rng.randrange(len(rows) + 1) for _ in range(n_triggers - 1))
    chunks, prev = [], 0
    for b in [*bounds, len(rows)]:
        chunks.append(rows[prev:b])
        prev = b

    st_ = _FakeState()
    got: dict[int, int] = {}
    for chunk in chunks:
        if not chunk:
            continue
        pdf = pd.DataFrame(chunk, columns=["sec", "event_type", "event_id"])
        for out in update((1,), iter([pdf]), st_):
            for _, row in out.iterrows():
                got[row["run_len"]] = got.get(row["run_len"], 0) + row["delta"]

    # reference: closed runs only (a trailing error run stays open)
    want: dict[int, int] = {}
    run = 0
    for is_err in seq:
        if is_err:
            run += 1
        elif run:
            want[run] = want.get(run, 0) + 1
            run = 0
    assert got == want
    assert (st_.get[0] if st_.exists else 0) == run  # open tail in state


# -- attribution ops: any in-order trigger split matches the sequential
#    reference (and linear attribution conserves credit exactly) ----------


def _drive_attribution(op, rows, n_triggers, seed):
    """Capture op.stream_apply's update() closure and drive it over an
    arbitrary in-order trigger split of `rows` [(sec, type, id)...];
    returns the summed deltas keyed by attributed_type."""
    import random

    import pandas as pd

    update = _capture_update(op)

    rng = random.Random(seed)
    bounds = sorted(rng.randrange(len(rows) + 1) for _ in range(n_triggers - 1))
    chunks, prev = [], 0
    for b in [*bounds, len(rows)]:
        chunks.append(rows[prev:b])
        prev = b

    st_ = _FakeState()
    got: dict[str, int] = {}
    val_col = None
    for chunk in chunks:
        if not chunk:
            continue
        pdf = pd.DataFrame(chunk, columns=["sec", "event_type", "event_id"])
        for out in update((1,), iter([pdf]), st_):
            if val_col is None and len(out.columns):
                val_col = out.columns[-1]
            for _, row in out.iterrows():
                got[row["attributed_type"]] = (
                    got.get(row["attributed_type"], 0) + row[val_col]
                )
    return got


def _attr_rows(seq):
    """(type_code, gap) list -> in-order (sec, type, event_id) rows.
    Codes: 0 view, 1 click, 2 purchase. Gaps can exceed the test
    window (10 s) so horizon pruning is exercised."""
    types = ["view", "click", "purchase"]
    rows, sec = [], 0
    for i, (code, gap) in enumerate(seq):
        sec += gap
        rows.append((sec, types[code], i))
    return rows


@given(
    seq=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 7)), min_size=1, max_size=25
    ),
    n_triggers=st.integers(1, 5),
    seed=st.integers(0, 2**32 - 1),
)
@settings(max_examples=200, deadline=None)
def test_last_touch_update_matches_sequential_reference(seq, n_triggers, seed):
    """LastTouchOp.update(): for ANY event sequence and ANY in-order
    trigger split, summed deltas equal the sequential last-touch rule
    (latest in-window prior event, ties to higher id, else direct)."""
    from distributed_file_system_with_stream_processing_spark.streaming.ops import (
        LastTouchOp,
    )

    rows = _attr_rows(seq)
    win = 10
    got = _drive_attribution(LastTouchOp("p", window_s=win), rows, n_triggers, seed)

    want: dict[str, int] = {}
    for k, (sec, etype, eid) in enumerate(rows):
        if etype == "purchase":
            cand = [
                (s, i, t)
                for (s, t, i) in rows[:k]
                if s >= sec - win
            ]
            att = max(cand)[2] if cand else "direct"
            want[att] = want.get(att, 0) + 1
    assert got == want


@given(
    seq=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 7)), min_size=1, max_size=25
    ),
    n_triggers=st.integers(1, 5),
    seed=st.integers(0, 2**32 - 1),
)
@settings(max_examples=200, deadline=None)
def test_linear_attribution_update_conserves_and_matches(seq, n_triggers, seed):
    """LinearAttributionOp.update(): summed deltas equal the
    sequential equal-split rule with floor shares and the remainder on
    the earliest candidate — so the total is EXACTLY 10^6 per
    purchase, for any sequence and any trigger split."""
    from distributed_file_system_with_stream_processing_spark.streaming.ops import (
        LinearAttributionOp,
    )

    rows = _attr_rows(seq)
    win = 10
    got = _drive_attribution(
        LinearAttributionOp("p", window_s=win), rows, n_triggers, seed
    )

    want: dict[str, int] = {}
    micro = 1_000_000
    n_purch = 0
    for k, (sec, etype, eid) in enumerate(rows):
        if etype == "purchase":
            n_purch += 1
            cand = sorted(
                (s, i, t) for (s, t, i) in rows[:k] if s >= sec - win
            )
            if not cand:
                want["direct"] = want.get("direct", 0) + micro
            else:
                base, rem = divmod(micro, len(cand))
                for j, (_, _, t) in enumerate(cand):
                    want[t] = want.get(t, 0) + base + (rem if j == 0 else 0)
    assert got == want
    assert sum(got.values()) == micro * n_purch


# ---- pure-Python sketch folds (no Spark session needed) --------------

PURE_SETTINGS = dict(max_examples=200, deadline=None)


@given(
    toks=st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=400),
    k=st.integers(1, 6),
)
@settings(**PURE_SETTINGS)
def test_misra_gries_classical_guarantees(toks, k):
    """For ANY stream and counter budget k: every kept count
    undercounts by at most n/(k+1), and every term with true
    frequency > n/(k+1) is present in the sketch."""
    from collections import Counter

    from distributed_file_system_with_stream_processing_spark.streaming.ops import (
        _mg_fold,
    )

    counters: dict = {}
    _mg_fold(counters, toks, k)
    true = Counter(toks)
    n = len(toks)
    bound = n // (k + 1)
    assert len(counters) <= k
    for t, c in counters.items():
        assert 0 < c <= true[t]
        assert true[t] - c <= bound
    for t, c in true.items():
        if c > bound:
            assert t in counters


@given(
    toks=st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=300),
    k=st.integers(1, 6),
    cut=st.integers(0, 300),
)
@settings(**PURE_SETTINGS)
def test_misra_gries_fold_is_resumable(toks, k, cut):
    """Folding a prefix, persisting the counters, and folding the rest
    equals one continuous fold — the property the streaming op's
    state checkpoint relies on."""
    from distributed_file_system_with_stream_processing_spark.streaming.ops import (
        _mg_fold,
    )

    cut = min(cut, len(toks))
    one: dict = {}
    _mg_fold(one, toks, k)
    split: dict = {}
    _mg_fold(split, toks[:cut], k)
    # round-trip through the state-store representation (two arrays)
    split = dict(zip(list(split.keys()), list(split.values())))
    _mg_fold(split, toks[cut:], k)
    assert one == split


@given(
    a=st.integers(-(10**15), 10**15),
    b=st.integers(-(10**6), 10**6).filter(lambda x: x != 0),
)
@settings(**PURE_SETTINGS)
def test_trunc_div_matches_spark_div_semantics(a, b):
    """_trunc_div truncates toward zero with the Euclidean identity
    q·b + r = a, |r| < |b|, and r carries a's sign — Spark SQL's
    BIGINT `div`."""
    from distributed_file_system_with_stream_processing_spark.streaming.ops import (
        _trunc_div,
    )

    q = _trunc_div(a, b)
    r = a - q * b
    assert abs(r) < abs(b)
    assert r == 0 or (r > 0) == (a > 0)
    # truncation: |q| never overshoots a/b
    assert abs(q * b) <= abs(a)


@given(
    cents=st.lists(st.integers(0, 10**9), min_size=1, max_size=200),
    q=st.integers(1, 100),
)
@settings(**PURE_SETTINGS)
def test_loghist_readout_picks_the_rank_bucket(cents, q):
    """The integer rank walk always reports the midpoint of EXACTLY
    the bucket containing the ⌈q·n/100⌉-th smallest value — the
    one-octave error guarantee reduces to this."""
    from distributed_file_system_with_stream_processing_spark.streaming.ops import (
        LogHistQuantileOp,
    )

    op = LogHistQuantileOp("p", qs=(q,))
    bucket = lambda c: 0 if c <= 0 else c.bit_length()  # noqa: E731
    hist: dict = {}
    for c in cents:
        hist[bucket(c)] = hist.get(bucket(c), 0) + 1
    n = len(cents)
    [(qq, est)] = op._readout(hist, n)
    assert qq == q
    rank_val = sorted(cents)[(q * n + 99) // 100 - 1]
    assert est == op._mid(bucket(rank_val))
    if rank_val > 0:
        assert rank_val / 2 < est < rank_val * 2 or est == 1


# ---------------------------------------------------------------------------
# KMV pair estimator (plans/llm_ops24): the pure-set identities the
# sketch queries rest on, checked against brute-force on arbitrary sets


def _kmv(hashes, k):
    return sorted(set(hashes))[:k]


def _pair_stats(sa, sb, k):
    """Mirror of the llm_ops24 pair epilogue in pure python."""
    comb = sorted(set(sa) | set(sb))[:k]
    m = len(comb)
    n_inter = sum(1 for x in comb if x in set(sa) and x in set(sb))
    return comb, m, n_inter


@given(
    a=st.sets(st.integers(min_value=0, max_value=(1 << 32) - 1), max_size=200),
    b=st.sets(st.integers(min_value=0, max_value=(1 << 32) - 1), max_size=200),
    k=st.integers(min_value=1, max_value=64),
)
@settings(max_examples=200, deadline=None)
def test_kmv_union_sketch_merge_lemma(a, b, k):
    """K(A∪B) computed from the two k-sketches equals the k-sketch of
    the true union (min-merge is lossless) — the identity that lets
    the pair queries work from |keys| sketches instead of the corpus."""
    sa, sb = _kmv(a, k), _kmv(b, k)
    comb, _, _ = _pair_stats(sa, sb, k)
    assert comb == _kmv(a | b, k)


@given(
    a=st.sets(st.integers(min_value=0, max_value=(1 << 32) - 1), max_size=60),
    b=st.sets(st.integers(min_value=0, max_value=(1 << 32) - 1), max_size=60),
)
@settings(max_examples=200, deadline=None)
def test_kmv_pair_exact_below_k(a, b):
    """With |A∪B| < k every estimate is EXACT: jaccard_micro is the
    true Jaccard micro-quotient and n_inter the true intersection —
    the 'exact below k' face the oracles rely on."""
    k = 128  # > max possible union size (60 + 60)
    sa, sb = _kmv(a, k), _kmv(b, k)
    comb, m, n_inter = _pair_stats(sa, sb, k)
    assert m == len(a | b)
    assert n_inter == len(a & b)
    if m:
        assert (n_inter * 1_000_000) // m == (len(a & b) * 1_000_000) // len(a | b)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=10**6),  # id
            st.integers(min_value=0, max_value=10**4),  # weight
        ),
        max_size=120,
        unique_by=lambda t: t[0],
    ),
    k=st.integers(min_value=1, max_value=8),
    cut=st.integers(min_value=0, max_value=120),
)
@settings(max_examples=150, deadline=None)
def test_priority_sample_fold_is_split_invariant(rows, k, cut):
    """The k-largest-priority fold over any trigger split equals the
    fold over the whole stream — PrioritySampleOp's state invariant,
    checked without Spark (the streaming test pins the Spark path)."""
    import hashlib

    def pri(i, w):
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
        return (w << 32) // (h + 1), h

    def fold(tuples, batch):
        for i, w in batch:
            p, h = pri(i, w)
            tuples.append((-p, h, i, w))
        tuples.sort()
        return tuples[:k]

    whole = fold([], rows)
    split = fold(fold([], rows[:cut]), rows[cut:])
    assert whole == split


@given(
    parts=st.lists(
        st.sets(st.integers(min_value=0, max_value=(1 << 32) - 1), max_size=80),
        min_size=1,
        max_size=6,
    ),
    k=st.integers(min_value=1, max_value=32),
)
@settings(max_examples=150, deadline=None)
def test_kmv_nway_rollup_merge_lemma(parts, k):
    """The N-way generalization the time-bucketed rollup
    (plans/llm_ops26.events_distinct_rollup_kmv) rests on: merging
    ANY number of per-cell k-sketches and keeping the k smallest
    equals the k-sketch of the union of all cells — so the rollup
    plan (merge path) and its oracle (direct path) agree for every
    window, not just pairs."""
    sketches = [_kmv(p, k) for p in parts]
    merged = sorted(set().union(*[set(s) for s in sketches]))[:k]
    union = set().union(*parts) if parts else set()
    assert merged == _kmv(union, k)
