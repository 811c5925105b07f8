"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the whole point — dedup is O(n²) done naively):

- **exact**: hash-groupBy on the content key. One shuffle keyed by the
  (hashed) content; at 100 TB group on ``md5(text)`` rather than raw
  text so shuffle rows stay small.
- **MinHash+LSH**: per doc compute k minhashes over word shingles
  (native expressions: xxhash64 per shingle per seed, array min —
  no Python in the loop), split signatures into b bands, explode to
  (band_id, band_hash) keys, self-join on the band key. Only documents
  agreeing on ≥1 full band meet in a shuffle bucket — candidate pairs
  ≈ O(near-dups), not O(n²). Exact Jaccard then verifies candidates.
- **SimHash**: 64-bit signature via per-token hash bit-voting;
  near-dups = signatures within Hamming distance d. Banding the 64
  bits into (64/d')-bit keys gives the same LSH-style candidate join.
- **n-gram Jaccard**: exact pairwise similarity, usable only after
  blocking (here: a band/bucket key); provided as the verifier.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct k-word shingles of a space-tokenized text column."""
    c = F.col(text) if isinstance(text, str) else text
    toks = F.split(c, " ")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    shingle = lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))  # noqa: E731
    return F.array_distinct(
        F.when(n >= k, F.transform(idx, shingle)).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def shingle_posts(
    docs: DataFrame,
    id_cols: tuple[str, ...] = ("doc_id",),
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Distinct k-shingle postings as 8-byte hashes: one row per
    (ids…, shingle-hash).

    The scale shape for everything shingle-based: slide a k-wide
    window over the token array with ``slice`` + ``arrays_zip`` (one
    native expression per row — no per-element lambda; a
    ``transform``-built shingle array is interpreted per element and
    ~4× slower measured at sf0.1), explode the zipped windows, hash
    the k token fields in codegen. Entirely map-side: the r16 rewrite
    removed the posexplode + per-doc ``lead`` window the first cut
    used, which shuffled and sorted every TOKEN row by doc id just to
    line up neighbors — at 100 TB that exchange carried the tokenized
    corpus once per call. The only remaining shuffle is the final
    ``distinct`` over int64 postings (which the window version paid
    too). Hash values are bit-identical to the lead-window build
    (same xxhash64 over the same k string args), so every downstream
    signature/band/pair is unchanged. Docs shorter than k tokens
    contribute one whole-text shingle, matching the array-based
    fallback semantics.
    """
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    m = F.greatest(n - (k - 1), F.lit(0))  # number of full k-shingles
    ztype = "array<struct<" + ",".join(f"s{j}:string" for j in range(k)) + ">>"
    # k parallel slices offset by one token each; arrays_zip lines up
    # element i of each slice into one struct = the shingle at pos i
    full = F.arrays_zip(*[F.slice(toks, j + 1, m) for j in range(k)]).cast(ztype)
    short = F.when(
        n < k,
        F.array(
            F.struct(
                F.concat_ws(" ", toks).alias("s0"),
                *[F.lit(None).cast("string").alias(f"s{j}") for j in range(1, k)],
            )
        ),
    ).otherwise(F.array().cast(ztype))
    rows = docs.select(
        *id_cols, F.explode(F.concat(full, short)).alias("z")
    )
    last = F.col(f"z.s{k-1}")
    full_hash = F.xxhash64(*[F.col(f"z.s{j}") for j in range(k)])
    short_hash = F.xxhash64(F.col("z.s0"))
    return (
        rows.select(
            *id_cols,
            F.when(last.isNotNull(), full_hash).otherwise(short_hash).alias("h"),
        )
        .distinct()
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two *distinct-element* arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return inter / union


def minhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    shingle_k: int = 3,
    num_hashes: int = 16,
    num_bands: int = 4,
    threshold: float = 0.6,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard ≥ threshold) via
    MinHash banding; exact-Jaccard verified on candidates only.

    Signatures are computed from hashed shingle postings
    (:func:`shingle_posts` — codegen'd, int64 keys) with one ``min``
    per hash function: plain codegen'd aggregates. (A per-row
    transform/aggregate fold is interpreted per element in Spark —
    ~10× slower at scale.) One shuffle keyed by doc id, then the band
    self-join shuffles only O(postings) band keys; exact Jaccard for
    candidates is counted on the same postings — shingle arrays never
    exist anywhere in the plan.
    """
    per = num_hashes // num_bands
    posts = shingle_posts(
        docs.select(F.col(id_col).alias("id"), text_col), ("id",), text_col, shingle_k
    )
    sigs = posts.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_sh"),
        *[F.min(F.xxhash64(F.lit(i), F.col("h"))).alias(f"h{i}") for i in range(num_hashes)],
    )
    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.xxhash64(*[F.col(f"h{b * per + j}") for j in range(per)]).alias("band_hash"),
        )
        for b in range(num_bands)
    ]
    # candidate join is ids-only: shingle arrays never ride the shuffle
    banded = sigs.select("id", F.explode(F.array(*band_structs)).alias("band")).select(
        "id", "band.band_id", "band.band_hash"
    )
    left = banded.alias("a")
    right = banded.alias("b")
    cand = (
        left.join(
            right,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # exact-Jaccard verify on candidates, counted over postings: join
    # the candidate pairs back onto the posting index (ids+int64 only)
    # and count shared hashes — no shingle arrays anywhere
    pa = cand.join(posts.withColumnsRenamed({"id": "id_a"}), "id_a")
    shared = (
        pa.join(
            posts.withColumnsRenamed({"id": "id_b"}), ["id_b", "h"], "inner"
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    nsh = sigs.select("id", "n_sh")
    verified = (
        cand.join(shared, ["id_a", "id_b"], "left")
        .na.fill({"n_shared": 0})
        .join(nsh.withColumnsRenamed({"id": "id_a", "n_sh": "n_a"}), "id_a")
        .join(nsh.withColumnsRenamed({"id": "id_b", "n_sh": "n_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_shared").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
        )
    )
    return verified.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )


#: literal long with only bit j set, j = 0..63 (bit 63 is the sign bit)
_BIT_MASKS = [(1 << j) if j < 63 else -(1 << 63) for j in range(64)]


def simhash64(text: Column | str) -> Column:
    """64-bit SimHash of the token stream, fully native:

    For each bit position j, vote +1/−1 per token according to bit j
    of xxhash64(token); the signature sets bit j iff the vote is > 0.
    One aggregate over a 64-slot vote array — no UDF, no shuffle.
    (Bit tests use a literal mask array: shiftright needs a literal
    shift amount in Spark, so ``h & mask_j`` replaces ``(h >> j) & 1``.)
    """
    c = F.col(text) if isinstance(text, str) else text
    # hash each token ONCE (hoisted out of the 64-bit vote loop — the
    # lambda engine does not CSE a loop-invariant xxhash64 on its own)
    hashes = F.transform(F.split(c, " "), lambda t: F.xxhash64(t))
    masks = F.array(*[F.lit(m).cast("long") for m in _BIT_MASKS])
    zeros = F.array_repeat(F.lit(0).cast("long"), 64)
    votes = F.aggregate(
        hashes,
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def simhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, sig) via the scale path: explode tokens, hash once, 64
    codegen'd vote sums per doc, assemble the signature from the vote
    columns. Same result as :func:`simhash64` (property-tested), but
    plain aggregates instead of per-element interpreted lambdas —
    the difference between minutes and hours at 100 TB."""
    from functools import reduce

    posts = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).select("id", F.xxhash64("tok").alias("h"))
    votes = posts.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(F.lit(m).cast("long")) != 0, 1).otherwise(-1)
            ).alias(f"v{j}")
            for j, m in enumerate(_BIT_MASKS)
        ]
    )
    sig = reduce(
        lambda a, b: a.bitwiseOR(b),
        [
            F.when(F.col(f"v{j}") > 0, F.lit(m).cast("long")).otherwise(F.lit(0).cast("long"))
            for j, m in enumerate(_BIT_MASKS)
        ],
    )
    return votes.select("id", sig.alias("sig"))


#: byte-popcount lookup for the vectorized Hamming verify (numpy
#: <2.0 has no bitwise_count)
_POP8 = None


def _pop8():
    global _POP8
    if _POP8 is None:
        import numpy as np

        _POP8 = np.unpackbits(
            np.arange(256, dtype=np.uint8)[:, None], axis=1).sum(1)
    return _POP8


def simhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    max_hamming: int = 3,
    num_bands: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit signature into
    ``num_bands`` chunks (pigeonhole: distance ≤ max_hamming < num_bands
    ⇒ some band identical), then verify Hamming distance WITHIN each
    (band, key) bucket.

    r13 scale fix (sf10 decade probe): the old per-band candidate
    self-join materialized every within-bucket pair THROUGH THE
    SHUFFLE, and SimHash band keys are heavily skewed on real corpora
    (similar docs vote similarly, so band values cluster — at 500k
    synth docs the hottest 16-bit bucket held 13k docs ≈ 86M pairs per
    band); the join's shuffle filled the disk. Verification now runs
    inside the bucket: group by (band_id, band_key), one chunked
    vectorized XOR + byte-popcount pass per bucket (Arrow
    ``applyInPandas``), emitting ONLY pairs within ``max_hamming`` —
    shuffle is O(postings), output O(answer). The within-bucket
    pairwise term is inherent to pigeonhole banding (every same-key
    pair must be distance-checked); it survives only as in-memory
    vectorized CPU with a ~byte-ops constant, not as shuffle I/O.

    Optimization r17: a qualifying pair is emitted ONLY from its
    first colliding band (both signatures are present in the bucket,
    so each bucket decides locally) — exactly-once globally, which
    removes the trailing O(answer) ``dropDuplicates`` exchange the
    multi-band emission needed. Output-set equality with the old plan
    is pinned by tests/test_operators.py."""
    import pandas as pd  # noqa: F401 (Arrow path requirement)

    bits_per = 64 // num_bands
    base = simhash_signatures(docs, id_col, text_col)
    band_cols = []
    for b in range(num_bands):
        band_cols.append(
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftright(F.col("sig"), b * bits_per)
                .bitwiseAND(F.lit((1 << bits_per) - 1))
                .alias("band_key"),
            )
        )
    banded = base.select("id", "sig", F.explode(F.array(*band_cols)).alias("band")).select(
        "id", "sig", "band.band_id", "band.band_key"
    )

    def _bucket_pairs(ids, sigs, band_id, pop, out_a, out_b, out_h):
        n = len(ids)
        # chunk rows so the (chunk, n) XOR matrix stays ~128 MB even in
        # a pathological bucket
        chunk = max(64, (1 << 24) // n)
        import numpy as np

        band_mask = np.int64((1 << bits_per) - 1)
        for s in range(0, n, chunk):
            x = sigs[s:s + chunk, None] ^ sigs[None, :]
            h = pop[x.view(np.uint8)].reshape(x.shape[0], n, 8).sum(
                axis=-1, dtype=np.int16)
            keep_a, keep_b = np.nonzero(
                (h <= max_hamming) & (ids[None, :] > ids[s:s + chunk, None]))
            # first-colliding-band emission (optimization r17): a pair
            # within max_hamming collides in EVERY band where its sig
            # bits agree, so the old plan emitted it once per such band
            # and paid an O(answer) dropDuplicates exchange to merge.
            # Both full signatures are in the bucket, so each bucket
            # can decide locally whether IT is the pair's first
            # colliding band — emit only then: exactly-once globally,
            # no dedup shuffle. (Band b collides ⟺ bits
            # [b·bits_per, (b+1)·bits_per) of the XOR are zero; the
            # arithmetic shift's sign-fill is masked off.)
            xv = x[keep_a, keep_b]
            first = np.full(xv.shape, num_bands, dtype=np.int64)
            for b in range(num_bands - 1, -1, -1):
                hit = ((xv >> np.int64(b * bits_per)) & band_mask) == 0
                first = np.where(hit, b, first)
            mine = first == band_id
            keep_a, keep_b = keep_a[mine], keep_b[mine]
            out_a.append(ids[s + keep_a])
            out_b.append(ids[keep_b])
            out_h.append(h[keep_a, keep_b].astype(np.int32))

    def verify(batches):
        # one pandas invocation per PARTITION, not per bucket: the key
        # space is ~num_bands·2^bits_per buckets and per-group pandas
        # overhead at 262k tiny groups dominated the wall (measured:
        # applyInPandas 36 s vs 14 s at sf1) — so buckets co-locate via
        # repartition(keys) and split in numpy inside the partition
        import numpy as np
        import pandas as pd

        pdfs = list(batches)
        empty = pd.DataFrame({
            "id_a": np.array([], dtype=np.int64),
            "id_b": np.array([], dtype=np.int64),
            "hamming": np.array([], dtype=np.int32)})
        if not pdfs:
            yield empty
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        bid = pdf["band_id"].to_numpy(dtype=np.int64)
        bkey = pdf["band_key"].to_numpy(dtype=np.int64)
        ids = pdf["id"].to_numpy(dtype=np.int64)
        sigs = pdf["sig"].to_numpy(dtype=np.int64)
        order = np.lexsort((bkey, bid))
        bid, bkey, ids, sigs = bid[order], bkey[order], ids[order], sigs[order]
        cuts = np.flatnonzero((np.diff(bid) != 0) | (np.diff(bkey) != 0)) + 1
        pop = _pop8()
        out_a, out_b, out_h = [], [], []
        for lo, hi in zip(np.r_[0, cuts], np.r_[cuts, len(ids)]):
            if hi - lo >= 2:
                _bucket_pairs(ids[lo:hi], sigs[lo:hi], int(bid[lo]), pop,
                              out_a, out_b, out_h)
        if not out_a:
            yield empty
            return
        yield pd.DataFrame({
            "id_a": np.concatenate(out_a),
            "id_b": np.concatenate(out_b),
            "hamming": np.concatenate(out_h),
        })

    shuffle_parts = int(docs.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32"))
    # no dropDuplicates: first-colliding-band emission (see
    # _bucket_pairs) makes each pair exactly-once globally, removing
    # the old O(answer) dedup exchange (guide §2.4)
    return banded.repartition(
        shuffle_parts, "band_id", "band_key"
    ).mapInPandas(verify, schema="id_a long, id_b long, hamming int")


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    node_col: str = "node",
    max_iter: int = 25,
) -> DataFrame:
    """Resolve near-dup *pairs* into duplicate *groups*: connected
    components by iterative min-label propagation.

    Every node starts labeled with itself; each round a node adopts the
    minimum label among itself and its neighbors. At fixpoint the label
    is the minimum id reachable in the component — the canonical
    group id. Mirrors the reference's dup-group resolution step
    (pairs → clusters) [REF: fill — see SURVEY.md §0].

    Scale notes (r16 shape, tightened in optimization r17): each round
    is ONE shuffle of |E| partial-aggregates (join edges with labels +
    union-groupBy min) plus two |V| pointer-jump self-joins — no
    all-pairs blowup. r17 changes, each motivated by guide §2.4
    (remove shuffles outright) and §2.6 (per-round driver barriers):

    - **Edges are hash-partitioned by the join key ONCE** (repartition
      by ``dst`` after the first materialization). ``LogicalRDD``
      preserves the partitioning, so every round's edges⋈labels join
      reuses it and only the |V| labels side exchanges — the old plan
      re-shuffled |E| every round. The partition count is
      scale-adaptive (~2M edge rows per partition, capped at the
      session's shuffle partitions, floor 1): a constant tuned for
      local mode would under-split a 100 TB dup subgraph, and the
      session constant (32 locally) would fan a few thousand local
      edge rows across 32 tasks per round — measured as more wall
      than the exchange it saves (AQE coalesces the old plan's tiny
      per-round exchanges, but cannot coalesce a join pinned to a
      fixed-width RDD layout).
    - **Round 1 is fused into initialization**: label(v) =
      min(v, min over neighbors) is a plain aggregate over edges — no
      self-labels frame, no join for the first round.
    - **The min step is union+groupBy** (labels ∪ neighbor-labels →
      min per node) instead of join-then-least — one exchange fewer
      per round than the old left-join formulation.
    - **Adaptive pointer jumping** (comp ← comp[comp]): labels only
      ever decrease toward a reachable node, so jumping stays inside
      the component. Rounds 1–2 jump once (real dup graphs are
      shallow — banded near-dup edges give diameter ≤ 2-3, and a
      second jump there is a pure extra |V| self-join); from round 3
      on — the graph has proven deep — the jump doubles, so label
      distance shrinks ~4× per round and a 10,000-member chain (every
      doc near-dups only its neighbors — the adversarial-depth skew
      guard in tests/test_skew.py) still converges in ~9 rounds
      instead of O(diameter). Each jump is one |V| self-join, V = the
      dup subgraph only.
    - **Convergence = monotone label-sum fixpoint**: labels strictly
      decrease element-wise until the fixpoint, so Σcomp (exact, in
      decimal) is strictly decreasing and equality between rounds ⟺
      every label unchanged. The sum rides the same action that
      materializes the round's localCheckpoint — no old_comp
      bookkeeping column, no filter+count plan per round.

    Iteration runs ONLY over nodes that touch an edge. In a
    deduplicated corpus almost every doc is a singleton; keeping them
    out of the loop shrinks every per-round shuffle from |corpus| to
    |dup subgraph| (orders of magnitude at 100 TB). Singletons rejoin
    as their own group at the end. Edges and per-round labels are
    ``localCheckpoint``-ed: lineage stays O(1) instead of growing one
    join per round, and the (possibly expensive) pair-generation plan
    upstream runs exactly once. (Alternating large/small-star —
    Kiveris et al., "Connected Components in MapReduce and Beyond" —
    would also bound per-node degree growth; min-label + jumping is
    enough here because dup EDGES are already banded/bounded.)

    ``pairs``: one row per undirected edge (id_a, id_b).
    ``nodes``: one row per corpus member (node id) — singletons come
    out labeled with themselves, so the output covers the whole corpus.
    Returns (node, group_id).
    """
    if max_iter < 1:
        raise ValueError("connected_components: max_iter must be >= 1")
    spark = pairs.sparkSession
    max_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    half = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = half.unionByName(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()  # run the (expensive) pair plan exactly once
    n_edges = edges.count()  # cheap: counts the materialized RDD
    nparts = max(1, min(max_parts, -(-n_edges // 2_000_000)))
    edges = edges.repartition(nparts, "dst").localCheckpoint()

    def _sum_of(df: DataFrame):
        # exact Σcomp: decimal(38,0) holds 10^12 int64 labels with room
        return df.agg(F.sum(F.col("comp").cast("decimal(38,0)"))).collect()[0][0]

    def _jumped(df: DataFrame) -> DataFrame:
        jump = df.select(
            F.col("node").alias("j_node"), F.col("comp").alias("j_comp"))
        return df.join(jump, F.col("comp") == F.col("j_node"), "left").select(
            "node",
            F.least(F.col("comp"), F.coalesce("j_comp", F.col("comp"))).alias("comp"),
        )

    # round 1, fused: min(self, neighbors) needs no join when labels
    # are still self-labels — it is a single aggregate over edges
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("_m"))
        .select(
            F.col("src").alias("node"),
            F.least(F.col("src"), F.col("_m")).alias("comp"),
        )
    )
    labels = _jumped(labels).localCheckpoint(eager=False)
    prev_sum = _sum_of(labels)
    converged = prev_sum is None  # empty dup subgraph: nothing to do
    for rnd in range(2, max_iter + 1):
        if converged:
            break
        nbr = edges.join(
            labels.withColumnRenamed("node", "dst_node"),
            F.col("dst") == F.col("dst_node"),
        ).select(F.col("src").alias("node"), "comp")
        stepped = (
            labels.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        )
        stepped = _jumped(stepped)
        if rnd >= 3:  # deep graph: double the jump (see docstring)
            stepped = _jumped(stepped)
        labels = stepped.localCheckpoint(eager=False)
        new_sum = _sum_of(labels)
        converged = new_sum == prev_sum
        prev_sum = new_sum
    if not converged:
        # an unconverged result would silently split components —
        # refuse loudly; a legitimate deep graph needs a bigger budget
        # (or the large/small-star variant noted above)
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_iter} rounds "
            f"(label sum {prev_sum} still moving) — raise max_iter"
        )
    return (
        nodes.select(F.col(node_col).alias("node"))
        .join(labels, "node", "left")
        .select("node", F.coalesce("comp", F.col("node")).alias("group_id"))
    )


def dedup_spans(
    corpus: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_words: int = 10,
) -> DataFrame:
    """C4-style repeated-span removal: cut every document into fixed
    ``span_words``-word chunks, keep each distinct chunk's GLOBAL first
    occurrence (order: id, position), reassemble the survivors.

    Scale shape: the keep-first rule is a top-1-per-chunk window, which
    Spark plans as a map-side ``WindowGroupLimit`` — a chunk repeated
    in half the corpus (boilerplate headers, license blocks: the
    classic C4 skew case) is pre-pruned to ONE row per input partition
    before the exchange, so the hot key's shuffle fan-in is bounded by
    the map-partition count, not by its document frequency. The
    planted-skew guard is tests/test_skew.py::test_span_dedup_hot_chunk.
    Returns (id, clean_text, n_kept).
    """
    from pyspark.sql import Window as W

    toks = F.split(text_col, " ")
    n_chunks = F.ceil(F.size(toks) / span_words).cast("int")
    chunks = corpus.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.concat_ws(
                    " ", F.slice(toks, i * span_words + 1, span_words)
                ),
            )
        ).alias("idx", "chunk"),
    )
    w = W.partitionBy("chunk").orderBy(id_col, "idx")
    kept = chunks.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("idx", "chunk"))),
                lambda x: x["chunk"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("int").alias("n_kept"),
    )
