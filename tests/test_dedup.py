"""Planted-duplicate fixtures: the dedup operators must actually find
the dups (the corpus tables are dup-free, so oracle parity alone
wouldn't prove detection)."""

from __future__ import annotations

import pytest

from distributed_file_system_with_stream_processing_spark.operators import dedup as D

BASE = (
    "spark filter join the table scan merge part window small hash scan join "
    "order batch stream window the a value merge row column data line key query "
    "vector group sort agg customer big slow fast"
)
NEAR = BASE.replace("customer", "supplier")  # one token differs
OTHER = (
    "completely different words entirely unrelated content about weather "
    "mountains rivers forests animals plants oceans deserts islands valleys "
    "storms clouds rain snow wind sunshine thunder lightning fog mist hail"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),          # exact dup of 1
        (3, NEAR),          # near dup of 1/2
        (4, OTHER),
        (5, "short text"),  # below shingle width for n=3? (2 tokens)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups_identical(docs):
    res = {r["text_hash"]: r for r in D.exact_dedup(docs).collect()}
    copies = sorted(r["n_copies"] for r in res.values())
    assert copies == [1, 1, 1, 2]
    dup_group = [r for r in res.values() if r["n_copies"] == 2][0]
    assert dup_group["canonical_doc_id"] == 1


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = {(r["doc_id_a"], r["doc_id_b"]): r["jaccard"] for r in D.ngram_jaccard_pairs(docs).collect()}
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 3)] > 0.7  # one changed word in a long doc
    assert (1, 4) not in pairs  # disjoint vocab never becomes a candidate


def test_minhash_lsh_finds_near_dup(docs):
    pairs = {(r["doc_id_a"], r["doc_id_b"]): r["est_jaccard"] for r in D.minhash_lsh_pairs(docs).collect()}
    assert pairs[(1, 2)] == 1.0
    assert pairs.get((1, 3), 0.0) > 0.5
    assert (1, 4) not in pairs


def test_simhash_near_dup_distance(docs):
    # one changed token out of ~30 flips ~7 of 32 bits; use a radius
    # that should capture it (banding still guarantees exact recall)
    pairs = {(r["doc_id_a"], r["doc_id_b"]): r["hamming"] for r in D.simhash_pairs(docs, max_hamming=8).collect()}
    assert pairs[(1, 2)] == 0
    assert pairs.get((1, 3), 99) <= 8
    assert (1, 4) not in pairs


def test_short_docs_dropped_not_crashing(docs):
    # doc 5 has 2 tokens < shingle width 3 → excluded from shingle ops
    ids = {r["doc_id_a"] for r in D.ngram_jaccard_pairs(docs).collect()} | {
        r["doc_id_b"] for r in D.ngram_jaccard_pairs(docs).collect()
    }
    assert 5 not in ids


def test_connected_components_clusters(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_id_a long, doc_id_b long"
    )
    got = {
        r["node"]: r["cluster_id"]
        for r in D.connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_chain_converges(spark):
    # a long path graph needs several propagation rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)], "doc_id_a long, doc_id_b long"
    )
    got = {r["node"]: r["cluster_id"] for r in D.connected_components(edges).collect()}
    assert set(got.values()) == {1} and len(got) == 9


def test_connected_components_high_diameter_chain(spark, monkeypatch):
    """Star contraction converges in O(log²) rounds: a diameter-79
    path would defeat 15 rounds of plain min-label propagation.
    Forces the distributed loop (gate off) so the contraction
    property itself stays covered now that small edge sets take the
    driver union-find fast path."""
    from distributed_file_system_with_stream_processing_spark.operators import _util

    monkeypatch.setattr(_util, "GATE_MAX_ROWS", 0)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 80)], "doc_id_a long, doc_id_b long"
    )
    got = {r["node"]: r["cluster_id"] for r in D.connected_components(edges).collect()}
    assert set(got.values()) == {1} and len(got) == 80


def test_connected_components_reliable_checkpoint(spark, tmp_path, monkeypatch):
    """Fault-tolerant checkpoint mode (the 100 TB path, switched on
    by the spark.dfsp.reliableCheckpoint session conf) must produce the
    identical clustering and write the checkpoint dir. Gate forced
    off: at 100 TB the edge set exceeds the driver gate, so this is
    the loop's configuration."""
    from distributed_file_system_with_stream_processing_spark.operators import _util

    monkeypatch.setattr(_util, "GATE_MAX_ROWS", 0)
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (4, 5), (5, 6), (6, 7)],
        "doc_id_a long, doc_id_b long",
    )
    base = {
        r["node"]: r["cluster_id"]
        for r in D.connected_components(edges).collect()
    }
    spark.conf.set("spark.dfsp.reliableCheckpoint", "true")
    try:
        reliable = {
            r["node"]: r["cluster_id"]
            for r in D.connected_components(edges).collect()
        }
    finally:
        spark.conf.unset("spark.dfsp.reliableCheckpoint")
    assert any(p.is_file() for p in (tmp_path / "ckpt").rglob("*"))
    assert reliable == base == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 4: 4, 5: 4, 6: 4, 7: 4}


def test_connected_components_gate_paths_identical(spark, monkeypatch):
    """The r9 size gate routes small edge sets through a driver
    union-find and large ones through the distributed star-contraction
    loop — both must produce the identical min-id labeling (including
    duplicate / reversed / self-loop inputs, which the distinct +
    u≠v preamble normalizes on both paths)."""
    from distributed_file_system_with_stream_processing_spark.operators import _util

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (10, 11), (7, 7), (4, 5), (6, 5), (3, 1)],
        "doc_id_a long, doc_id_b long",
    )
    fast = {
        r["node"]: r["cluster_id"]
        for r in D.connected_components(edges).collect()
    }
    monkeypatch.setattr(_util, "GATE_MAX_ROWS", 0)  # force the loop
    distributed = {
        r["node"]: r["cluster_id"]
        for r in D.connected_components(edges).collect()
    }
    assert fast == distributed == {
        1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 4: 4, 5: 4, 6: 4,
    }


def test_plan_ckpt_reliable_conf(spark, tmp_path):
    """The session conf ``spark.dfsp.reliableCheckpoint=true`` must
    route plan-level lineage truncations (operators/_util.plan_ckpt —
    used by label_propagation's edge checkpoint and the r9/r10
    model-table sites) through the fault-tolerant ``checkpoint()``
    with identical results — the r9 verdict's ask that the 100 TB
    durability story be one deployment switch, not per-site code."""
    spark.sparkContext.setCheckpointDir(str(tmp_path / "rck"))
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_id_a long, doc_id_b long"
    )
    base = {r["node"]: r["community"] for r in D.label_propagation(edges).collect()}
    spark.conf.set("spark.dfsp.reliableCheckpoint", "true")
    try:
        got = {r["node"]: r["community"] for r in D.label_propagation(edges).collect()}
    finally:
        spark.conf.set("spark.dfsp.reliableCheckpoint", "false")
    assert got == base
    assert any((tmp_path / "rck").rglob("*")), "reliable checkpoint dir written"


def _py_lpa(edges, n_rounds=3):
    """Independent pure-Python synchronous LPA with self-loop vote and
    (count desc, label asc) tie-break — the reference the Spark
    operator and the SQL oracle must both equal."""
    import collections

    adj = collections.defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    lab = {u: u for u in adj}
    for _ in range(n_rounds):
        new = {}
        for u in adj:
            votes = collections.Counter(lab[v] for v in adj[u])
            votes[lab[u]] += 1  # self-loop
            new[u] = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        lab = new
    return lab


def test_label_propagation_planted_cliques_match_cc(spark):
    """On dense planted clusters (cliques) LPA and CC induce the SAME
    partition — and with all-distinct initial labels the LPA label is
    the clique minimum, equal to CC's cluster_id."""
    cliq = [(a, b) for grp in ([1, 2, 3, 4], [10, 11, 12]) for i, a in enumerate(grp) for b in grp[i + 1:]]
    edges = spark.createDataFrame(cliq, "doc_id_a long, doc_id_b long")
    lpa = {r["node"]: r["community"] for r in D.label_propagation(edges).collect()}
    cc = {r["node"]: r["cluster_id"] for r in D.connected_components(edges).collect()}
    assert lpa == cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}
    assert lpa == _py_lpa(cliq)


def test_label_propagation_bounded_horizon_differs_from_cc(spark):
    """The complement claim: a diameter-8 chain is ONE CC component,
    but 3 LPA rounds bound the membership horizon — labels only reach
    3 hops, so distant chain ends do NOT share a community. Exact
    labels pinned against the pure-Python reference."""
    chain = [(i, i + 1) for i in range(1, 9)]
    edges = spark.createDataFrame(chain, "doc_id_a long, doc_id_b long")
    lpa = {r["node"]: r["community"] for r in D.label_propagation(edges).collect()}
    assert lpa == _py_lpa(chain)
    cc = {r["node"]: r["cluster_id"] for r in D.connected_components(edges).collect()}
    assert len(set(cc.values())) == 1
    assert len(set(lpa.values())) > 1, lpa
