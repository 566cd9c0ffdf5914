"""Distributed deduplication operators over a (id, text) corpus.

Four families, all shuffle-planned for 100 TB:

- exact: hash-groupBy on normalized text — one shuffle on the digest.
- n-gram Jaccard: explode shingles → shingle-key equi-join → pair agg.
  The join key is the shingle itself (high cardinality → well-spread
  shuffle); candidate pairs are formed only for docs sharing a
  shingle, never a cross join.
- MinHash + LSH: signature → band keys → equi-join on (band, key).
  Probability of a band collision is jaccard^r, so the shuffle volume
  is tunable with (k, bands); exact signature-agreement estimate
  computed only on candidates.
- SimHash: 32-bit signature → 4×8-bit band bucketing (pigeonhole:
  hamming ≤ 3 ⇒ at least one identical band) → exact hamming verify.
  Candidate generation is again an equi-join, no quadratic work.

Every operator returns a deterministic DataFrame (stable tie-breaks),
so results are reproducible run-to-run and match the DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from distributed_file_system_with_stream_processing_spark.functions import text as T
from distributed_file_system_with_stream_processing_spark.operators._util import spread as _spread


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Group identical (normalized) texts: digest, canonical id, copies."""
    return (
        df.select(
            F.col(id_col), F.md5(T.norm_text(F.col(text_col))).alias("text_hash")
        )
        .groupBy("text_hash")
        .agg(
            F.min(id_col).cast("long").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _with_shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    # two-step select: materialize the token array once per row, THEN
    # build n-grams from the column ref. Higher-order functions are
    # interpreted (not codegen'd), so inlining words() into the n-gram
    # lambda would re-tokenize the text once per n-gram index.
    #
    # Deliberately NO size(sh) > 0 filter here: Catalyst would push it
    # below the repartition into the scan stage, re-inlining (and
    # re-evaluating, single-partition) the whole shingle expression as
    # a scan predicate. Empty shingle arrays are harmless — explode()
    # emits nothing and size-0 docs can never share a shingle/band.
    return (
        _spread(df)
        .select(F.col(id_col).alias("doc_id"), T.words(F.col(text_col)).alias("ws"))
        .select("doc_id", F.array_distinct(T.word_ngrams(F.col("ws"), n)).alias("sh"))
    )


def _exploded_shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(doc_id, shingle) rows — the map-side layout signature builders
    aggregate over (partial agg in each task, one shuffle on doc_id).

    explode_OUTER + post-filter, not plain explode: Catalyst's
    InferFiltersFromGenerate would synthesize ``size(sh) > 0 AND
    isnotnull(sh)`` from an inner explode and push it below the
    repartition — re-inlining the whole shingle expression as a
    single-partition scan predicate (the exact pathology the staged
    select avoids). The rule skips outer generates; the residual null
    rows (empty shingle sets) are dropped by a cheap column-ref filter
    AFTER the generate."""
    sh = _with_shingles(df, id_col, text_col, n)
    return (
        sh.select("doc_id", F.explode_outer("sh").alias("s"))
        .filter(F.col("s").isNotNull())
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    top_k: int = 50,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Top-k most-similar doc pairs by n-gram shingle Jaccard.

    explode → join on shingle → count shared → Jaccard from set sizes.
    Deterministic order: jaccard desc, then (doc_id_a, doc_id_b).

    ``max_doc_freq`` is the quadratic-blowup guard for the self-join:
    a shingle appearing in f docs contributes f·(f-1)/2 pairs, so one
    stop-shingle ("of the and") in 1M docs means 5·10¹¹ join rows. The
    cap drops shingles with doc-frequency > max_doc_freq BEFORE the
    join, bounding per-shingle fan-out at C(cap, 2). Stop-shingles
    carry almost no similarity signal (every doc has them), so capped
    Jaccard is a tight LOWER bound of exact Jaccard: n_shared only
    loses ubiquitous shingles while the denominator keeps full set
    sizes. This is the standard frequency-pruning step in web-scale
    near-dup pipelines; None (default) keeps exact semantics.
    """
    return (
        ngram_jaccard_all_pairs(df, id_col, text_col, n, max_doc_freq)
        .orderBy(F.desc("_j"), F.asc("doc_id_a"), F.asc("doc_id_b"))
        .limit(top_k)
        .drop("_j")
    )


def ngram_jaccard_all_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_doc_freq: int | None = None,
    sh: DataFrame | None = None,
) -> DataFrame:
    """EVERY co-shingled doc pair with its n-gram Jaccard — the
    un-truncated pair table behind ``ngram_jaccard_pairs`` (which adds
    the deterministic top-k). Columns: (doc_id_a, doc_id_b, jaccard
    rounded 6dp, _j unrounded for downstream ordering/binning).

    Exposed for pipeline-QA passes (the LSH recall audit joins this
    ground-truth set against the MinHash candidate set); the
    ``max_doc_freq`` blowup guard and its lower-bound semantics are
    documented on ``ngram_jaccard_pairs``.

    ``sh`` (r10): a caller holding the (doc_id, sh) shingle table
    already — e.g. lsh_recall_curve, which needs it for BOTH the
    ground truth and the banding — passes it in so the tokenize+
    shingle corpus pass is not re-derived. Same values (the default
    builds it the usual way).
    """
    if sh is None:
        sh = _with_shingles(df, id_col, text_col, n)
    sizes = sh.select("doc_id", F.size("sh").alias("n_sh"))
    # explode_outer + null filter: see _exploded_shingles
    ex = (
        sh.select("doc_id", F.explode_outer("sh").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
    )
    if max_doc_freq is not None:
        # shingles are distinct per doc → row count per shingle == doc
        # frequency. Semi join ships only the shingle column; the agg
        # is map-side-partial on the same key the join shuffles on.
        keep = (
            ex.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_doc_freq)
            .select("shingle")
        )
        ex = ex.join(keep, "shingle", "left_semi")
    a = ex.alias("a")
    b = ex.alias("b")
    shared = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_id_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
    # r9 conversion (wave 3): the PROJECTED jaccard is exact
    # truncating integer division at 6 dp (round() of the double
    # quotient disagreed between engines on representation
    # boundaries); `_j` stays the raw quotient for ordering — one
    # correctly-rounded IEEE division is bit-identical in both
    # engines, so order-by-_j is already cross-engine deterministic.
    return (
        shared.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            (
                F.expr(
                    "(n_shared * 1000000) div (n_a + n_b - n_shared)"
                ).cast("double")
                / 1e6
            ).alias("jaccard"),
            jac.alias("_j"),
        )
    )


def minhash_banded(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 6,
    sh: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, sig, band, key) — each doc's MinHash signature exploded
    into its ``bands`` LSH band keys. The SHARED banding kernel:
    ``minhash_lsh_pairs`` self-joins it for batch candidate pairs, and
    ``streaming.rainstorm.effective_tokens_stream`` probes a persisted
    index of it per micro-batch — one code path, so the streamed edge
    set is definitionally the batch candidate set (same shingles, same
    affine family, same band hashing). Docs with fewer than ``n`` words
    have an empty shingle set and emit NO rows (they can never share a
    band)."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    # Signature as num_hashes min-aggregates over exploded shingles:
    # one pass over the data, map-side partial mins, single shuffle on
    # doc_id — instead of per-row k× array scans. ONE md5 per shingle
    # (hash32), then k affine universal hashes — at 100 TB the md5 is
    # the dominant cost and this does 1/k of it. Same values as
    # functions.text.minhash_signature (min is set-order invariant).
    if sh is None:
        ex0 = _exploded_shingles(df, id_col, text_col, n)
    else:
        # caller-provided (doc_id, sh) table (see ngram_jaccard_all_pairs)
        ex0 = (
            sh.select("doc_id", F.explode_outer("sh").alias("s"))
            .filter(F.col("s").isNotNull())
        )
    ex = ex0.select("doc_id", T.hash32(F.col("s")).alias("h"))
    params = [T.mh_params(k) for k in range(num_hashes)]
    mins = ex.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(T.MINHASH_PRIME)).alias(f"m{k}")
            for k, (a, b) in enumerate(params)
        ]
    )
    sig = mins.select(
        "doc_id", F.array(*[F.col(f"m{k}") for k in range(num_hashes)]).alias("sig")
    )
    band_keys = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda bnd: F.struct(
            bnd.alias("band"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.slice(F.col("sig"), bnd * r + 1, r),
                        lambda x: x.cast("string"),
                    ),
                    "|",
                )
            ).alias("key"),
        ),
    )
    return sig.select("doc_id", "sig", F.explode(band_keys).alias("bk")).select(
        "doc_id", "sig", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 6,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via MinHash banding + signature-overlap
    estimate. rows_per_band = num_hashes/bands; a pair is a candidate
    iff some band's sub-signature matches exactly. ``sh``: optional
    precomputed (doc_id, sh) shingle table (see ngram_jaccard_all_pairs)."""
    ex = minhash_banded(df, id_col, text_col, n, num_hashes, bands, sh=sh)
    a = ex.alias("a")
    b = ex.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["doc_id_a", "doc_id_b"])
    )
    agree = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    # r9 conversion (wave 3): agree/num_hashes at 6 dp as exact
    # truncating integer division — both engines round the same exact
    # rational (round() disagreed on representation boundaries).
    # agree·12 still round-trips from the 6-dp estimate: the
    # truncation error is < 1e-6·num_hashes, far under the 0.5 gate.
    return cand.select(
        "doc_id_a", "doc_id_b", agree.cast("long").alias("_agree")
    ).selectExpr(
        "doc_id_a",
        "doc_id_b",
        f"cast((_agree * 1000000) div {num_hashes} as double) / 1000000.0"
        " as est_jaccard",
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance ≤ max_hamming.

    Scale path: band the 32-bit signature into (max_hamming+1) chunks;
    pigeonhole guarantees every qualifying pair collides on ≥1 chunk,
    so candidate generation is an equi-join on (chunk_id, chunk_value)
    and the exact hamming check runs only on candidates. Result is
    EXACTLY the brute-force pair set (the oracle computes it that way).
    """
    chunks = max_hamming + 1
    bits = 32 // chunks
    # SimHash via 32 conditional-sum aggregates over exploded shingles
    # (bit balance per position), then recombine — partial-agg friendly
    # and whole-stage codegen'd, vs. a 32×|shingles| nested lambda per
    # row. Values identical to functions.text.simhash32.
    ex = _exploded_shingles(df, id_col, text_col, n).withColumn("h", T.hash32(F.col("s")))
    balances = ex.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), j) % 2 == 1, 1).otherwise(-1)
            ).alias(f"b{j}")
            for j in range(32)
        ]
    )
    simhash_col = None
    for j in range(32):
        term = F.when(F.col(f"b{j}") >= 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        simhash_col = term if simhash_col is None else simhash_col + term
    sig = balances.select("doc_id", simhash_col.alias("simhash"))
    chunk_keys = F.transform(
        F.sequence(F.lit(0), F.lit(chunks - 1)),
        lambda c: F.struct(
            c.alias("chunk"),
            (
                (F.col("simhash") / F.pow(F.lit(2.0), c * bits)).cast("long")
                % F.lit(2**bits)
            ).alias("val"),
        ),
    )
    ex = sig.select("doc_id", "simhash", F.explode(chunk_keys).alias("ck")).select(
        "doc_id", "simhash", F.col("ck.chunk").alias("chunk"), F.col("ck.val").alias("val")
    )
    a = ex.alias("a")
    b = ex.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(hamming <= max_hamming)
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            hamming.cast("long").alias("hamming"),
        )
        .dropDuplicates(["doc_id_a", "doc_id_b"])
    )


def connected_components(
    edges: DataFrame,
    src: str = "doc_id_a",
    dst: str = "doc_id_b",
    max_iter: int = 15,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — turns pairwise near-dup edges into duplicate CLUSTERS
    (the step after MinHash: pick one canonical doc per component).

    Each round is two edge rewrites, both pure groupBy/join plans:

    - large-star: per node u over its symmetric neighborhood N(u),
      with m = min(N(u) ∪ {u}), rewire every LARGER neighbor v > u to
      (v, m);
    - small-star: orient each edge toward its larger endpoint, per
      node a with smaller-neighbors N(a), m = min(N(a)), rewire
      (b, m) for b ∈ N(a) plus (a, m).

    Converges to min-centered stars in O(log² n) rounds regardless of
    component DIAMETER — plain min-label propagation needs O(diameter)
    rounds, which is the scale risk for chain-shaped near-dup
    components (doc A ~ B ~ C ~ … pile-ups). The driver loop only
    checks a one-row converged probe; all data stays distributed.
    Lineage is truncated each round (else the plan grows
    exponentially) through ``_util.plan_ckpt``, so the session conf
    ``spark.dfsp.reliableCheckpoint=true`` makes every truncation
    fault-tolerant at scale. Returns (node, cluster_id) with
    cluster_id = min node id in the component; nodes with no edge are
    not emitted (same contract as before).

    r9 size gate: below ``_util.GATE_MAX_ROWS`` edges (the SAME bound
    under which the engine already ships candidate-pair tables to the
    driver as broadcast builds — operators/_util.gate_broadcast), the
    distinct edge set collects once and a driver union-find labels it
    — the exact min-id-per-component contract in two jobs instead of
    O(log² n) rounds × ~8 stages. Above the gate (a pathological dup
    rate at 100 TB) the distributed star-contraction loop runs
    unchanged; both paths compute the identical labeling (equality
    pinned in tests/test_dedup.py with the gate forced both ways).
    """
    from distributed_file_system_with_stream_processing_spark.operators import _util

    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    e = _util.plan_ckpt(e)
    if e.limit(_util.GATE_MAX_ROWS + 1).count() <= _util.GATE_MAX_ROWS:
        # r10 (advice items): fetch the two key columns as Arrow —
        # columnar, no per-row Row objects or dict-of-field churn, a
        # few dozen MB at the 2M-row gate instead of hundreds — and
        # type the output on the UNIONED src/dst type (labels are
        # drawn from BOTH endpoint columns, so a src/dst dtype
        # mismatch must widen, exactly like the distributed path's
        # union does).
        tbl = e.toArrow()
        us = tbl.column(0).to_pylist()
        vs = tbl.column(1).to_pylist()
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != r:
                parent[x], x = r, parent[x]
            return r

        for a, b in zip(us, vs):
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min keeps every root the component minimum
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        labels = sorted({(x, find(x)) for pair in zip(us, vs) for x in pair})
        common = (
            e.select(F.col("u"))
            .unionByName(e.select(F.col("v").alias("u")))
            .schema[0]
            .dataType
        )
        return e.sparkSession.createDataFrame(
            labels, schema=StructType([
                StructField("node", common, False),
                StructField("cluster_id", common, False),
            ])
        )

    def _fingerprint(df: DataFrame) -> tuple[int, int]:
        """(row count, order-free xxhash64 sum) of an edge set — one
        shuffle-free job over just-checkpointed partitions. Equal
        fingerprints are NECESSARY for set equality (the exact
        exceptAll probe below still confirms); different fingerprints
        prove inequality, skipping the probe on every non-final
        round."""
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal(38,0) accumulator: a BIGINT sum of xxhash64
            # values overflows (an error under ANSI mode), decimal
            # headroom holds ~10^19 rows
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return int(row["n"]), int(row["h"] or 0)

    fp_e = _fingerprint(e)
    for _ in range(max_iter):
        # large-star
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("_mn"))
            .select("u", F.least("_mn", "u").alias("m"))
        )
        # NO .distinct() on the large-star output: it feeds ONLY the
        # small-star orientation below, whose own .distinct() subsumes
        # the dedup (map-side partial aggregation absorbs the
        # duplicates) — one Exchange per round saved, same edge set.
        ls = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        # small-star (edges oriented large→small, so m = min(N(a)))
        oriented = ls.select(
            F.greatest("u", "v").alias("a"), F.least("u", "v").alias("b")
        ).distinct()
        # r10 (r9 verdict item 5): fold min-per-apex with ONE window
        # over the apex partitioning instead of groupBy+join — the
        # join re-shuffled `oriented` by `a` (4 exchanges/round); the
        # window reads the same exchange for both union branches and
        # the per-apex row's distinct is exchange-free (already
        # clustered by a), so each round plans 3 exchanges and no
        # join. Identical edge set: (b, min N(a)) ∀b∈N(a) plus
        # (a, min N(a)), u≠v, distinct.
        wmin = Window.partitionBy("a")
        ss = oriented.withColumn("m", F.min("b").over(wmin))
        new_e = (
            ss.select(F.col("b").alias("u"), F.col("m").alias("v"))
            .unionByName(
                ss.select(F.col("a").alias("u"), F.col("m").alias("v")).distinct()
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        new_e = _util.plan_ckpt(new_e)
        # Fixed point: edge sets equal. Both sides are DISTINCT sets,
        # so |new_e| = |e| AND new_e \ e = ∅ ⟺ new_e = e. The cheap
        # (count, hash-sum) fingerprint gates the exact probe: a
        # mismatch PROVES the sets differ (skip the probe — every
        # non-final round), a match is confirmed by ONE one-sided
        # exceptAll. Replaces the two shuffling exceptAll probe jobs
        # the loop ran per round through r8 with one shuffle-free agg.
        fp_new = _fingerprint(new_e)
        if fp_new == fp_e and new_e.exceptAll(e).limit(1).count() == 0:
            e = new_e
            break
        e, fp_e = new_e, fp_new
    # fixed point = stars (leaf → center); centers label themselves
    return (
        e.select(F.col("u").alias("node"), F.col("v").alias("label"))
        .unionByName(e.select(F.col("v").alias("node"), F.col("v").alias("label")))
        .groupBy("node")
        .agg(F.min("label").alias("cluster_id"))
    )


def label_propagation(
    edges: DataFrame,
    src: str = "doc_id_a",
    dst: str = "doc_id_b",
    n_rounds: int = 3,
) -> DataFrame:
    """Deterministic synchronous label propagation (Raghavan et al.
    2007, Phys. Rev. E 76:036106) over a near-dup pair graph —
    community detection complementing :func:`connected_components`:
    CC answers "is there ANY path", LPA's bounded rounds answer "is
    the membership signal REACHABLE in ≤ n_rounds hops with majority
    support", so a long thin chain that CC fuses into one component
    stays multiple LPA communities.

    Determinism (the property the classic asynchronous LPA lacks):
    all nodes update simultaneously from the previous round's labels;
    a node adopts the label with the highest vote count among its
    neighbors plus ITSELF (a self-loop vote — the standard stabilizer
    against 2-cycles), ties broken by smallest label. Vote counts are
    exact integers, so the result is a pure function of the edge set
    and mirrors bit-for-bit in the unrolled SQL oracle.

    100 TB shape: the symmetrized edge list is LSH-pair-scale, so it
    goes through the size-gated broadcast (operators/_util.
    gate_broadcast — hinted under the row bound, key-shuffle fallback
    above it, and persisted with FIFO unpersist so the n_rounds
    re-reads hit cache); per round the only corpus-independent
    shuffles are the (node, label) vote count and the per-node argmax,
    both with map-side partials. Returns (node, community) for every
    node incident to an edge.
    """
    from distributed_file_system_with_stream_processing_spark.operators._util import (
        gate_broadcast,
    )

    # canonicalize to (least, greatest) BEFORE distinct: an input
    # carrying both (a, b) and (b, a) — legal for a generic edge
    # list, even though LSH pairs are always a < b — must count as
    # ONE undirected edge, or the symmetrization below doubles its
    # vote (caught by the hypothesis property test).
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    # r10 optimization: truncate lineage at the pair-scale canonical
    # edge set. It fans out to sym / nodes / full / lab0, and branch-
    # specific pruning makes each copy canonically different, so the
    # corpus-scale pair generation upstream (LSH banding self-join)
    # re-executed ~3x per invocation (103 stages / 1307 tasks measured
    # on neardup_communities). Checkpointing the edge list — already
    # the r9 stance for pagerank/triangle edges — runs it once.
    from distributed_file_system_with_stream_processing_spark.operators._util import (
        plan_ckpt,
    )

    e = plan_ckpt(e)
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    nodes = sym.select(F.col("a").alias("node")).distinct()
    full = sym.unionByName(
        nodes.select(F.col("node").alias("a"), F.col("node").alias("b"))
    )
    full, _ = gate_broadcast(full)
    lab = nodes.select("node", F.col("node").alias("lab"))
    for _ in range(n_rounds):
        votes = (
            full.join(lab.withColumnRenamed("node", "b"), "b")
            .groupBy(F.col("a").alias("node"), "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        lab = (
            votes.groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("_negc"), F.col("lab").alias("lab"))
                ).alias("w")
            )
            .select("node", F.col("w.lab").alias("lab"))
        )
    return lab.select("node", F.col("lab").alias("community"))
