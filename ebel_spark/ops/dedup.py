"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Designed for the 100 TB case:
- exact dedup is a hash groupBy (map-side combine collapses duplicates
  before the shuffle);
- MinHash-LSH banding turns all-pairs similarity into an equi-join on
  (band_idx, band_hash) — candidates only ever meet inside a bucket;
- SimHash uses the pigeonhole principle over 16-bit chunks so near-dup
  candidates (hamming <= 3) share at least one of 4 chunk keys;
- n-gram Jaccard uses rare-shingle blocking (document-frequency capped) as
  the inverted index.

Verification of candidates is always exact (set Jaccard / hamming) —
LSH/blocking only bounds the candidate set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..graph import cut_lineage, iterate

from .text import _kgram_hashes_from_tokens, shingles, tokens, with_shingles


#: every _pin'd frame, so a long-lived session can release them between
#: queries (release_pins).  Stale pinned blocks are not free even when
#: unreferenced: a bench session running ~20 pair/ANN queries back-to-back
#: measured the LATE queries 4-10x slower (semantic_dup_pairs 38 -> 18 s
#: first run, 15 -> 1.7 s second) purely from accumulated blocks; a
#: query-scoped unpersist restores standalone timings.
_PINNED: list = []

#: FIFO bound on operator pins: a single query pins at most a handful of
#: intermediates, so evicting beyond this depth can only touch frames
#: from COMPLETED queries — it protects long-lived sessions (notebook,
#: service) that never call release_pins() from unbounded block growth,
#: while the harness loops still release eagerly between queries.
_MAX_PINNED = 16


def _pin(df: DataFrame) -> DataFrame:
    """Persist a multi-consumer intermediate (MEMORY_AND_DISK).

    The shingle/signature tables below feed 2-4 plan branches; without a
    persist each branch re-runs the expensive per-row expressions
    (shingling regex, k-permutation hashing, simhash vote fold) —
    measured 2-3x wall on the minhash operator.  MEMORY_AND_DISK spills
    per executor on a real cluster, which is the intended 100 TB
    behavior.  Harness loops call release_pins() between queries; other
    callers are bounded by the _MAX_PINNED FIFO eviction."""
    from pyspark import StorageLevel
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _PINNED.append(df)
    while len(_PINNED) > _MAX_PINNED:
        old = _PINNED.pop(0)
        try:
            old.unpersist(False)
        except Exception:
            pass
    return df


def release_pins() -> int:
    """Unpersist every operator-pinned intermediate (NOT session-scoped
    memo frames like the parsed BEL oracle corpus).  Returns the count
    released.  Call between queries in bench/gate loops; a no-op cost
    when nothing is pinned."""
    n = 0
    while _PINNED:
        df = _PINNED.pop()
        try:
            df.unpersist(False)
            n += 1
        except Exception:  # session already stopped
            pass
    return n


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Assign every row its duplicate-group canonical id (min id with the
    same sha256(text)).  `is_dup` marks rows that would be dropped."""
    h = F.sha2(F.col(text_col), 256)
    hashed = df.select(F.col(id_col).alias("id"), h.alias("text_sha"))
    canon = hashed.groupBy("text_sha").agg(F.min("id").alias("canonical_id"))
    return (
        hashed.join(canon, "text_sha")
        .select(
            "id", "text_sha", "canonical_id",
            (F.col("id") != F.col("canonical_id")).alias("is_dup"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signature(sh_col, k: int = 32):
    """k-permutation MinHash over a shingle array column (seeded xxhash64).

    Column form for small inputs/tests: k interpreted HOF passes over the
    array (Spark evaluates transform() lambdas interpreted, ~1 µs per
    element-eval).  `minhash_lsh_pairs` uses the explode + groupBy-min
    plan instead — the k-hash projection compiles under whole-stage
    codegen and the min agg combines map-side, measured 12x faster at
    sf0.1 for identical values (min is commutative, so the two plans are
    value-equal by construction)."""
    return F.array(*[
        F.array_min(F.transform(sh_col, lambda s: F.xxhash64(s, F.lit(i))))
        for i in range(k)
    ])


def _exact_jaccard(a_col, b_col):
    inter = F.size(F.array_intersect(a_col, b_col))
    union = F.size(F.array_union(a_col, b_col))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def minhash_lsh_pairs(
    df: DataFrame, id_col: str, text_col: str,
    k: int = 32, bands: int = 8, shingle_n: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs (a < b) with exact shingle-set Jaccard >=
    threshold, candidates generated via LSH banding (k/bands rows/band)."""
    assert k % bands == 0
    rows = k // bands
    base = _pin(
        with_shingles(df, text_col, "sh", shingle_n)
        .select(F.col(id_col).alias("id"), "sh")
        .filter(F.size("sh") > 0))
    # signature via explode + groupBy-min: the k xxhash64 columns are a
    # plain projection (whole-stage codegen) instead of k interpreted HOF
    # passes over the array (see minhash_signature), and the min agg
    # combines map-side so the shuffle carries one k-long row per (doc,
    # input partition) — measured 8.8 s -> 0.7 s for the signature stage
    # at sf0.1/local[32], identical values (min is commutative)
    sig = (
        base.select("id", F.explode("sh").alias("s"))
        .groupBy("id")
        .agg(*[F.min(F.xxhash64("s", F.lit(i))).alias(f"_m{i}")
               for i in range(k)])
    )
    # band rows carry ONLY (id, band key) — the shingle arrays would
    # otherwise be shuffled `bands` times over; band_hash byte-identical
    # to xxhash64(array_join(transform(slice(sig..), string), ","))
    banded = sig.select(
        "id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.xxhash64(F.concat_ws(",", *[
                    F.col(f"_m{j}").cast("string")
                    for j in range(b * rows, (b + 1) * rows)
                ])).alias("band_hash"),
            )
            for b in range(bands)
        ])).alias("band"),
    ).select("id", "band.band_idx", "band.band_hash")

    left = banded.select("band_idx", "band_hash", F.col("id").alias("a"))
    right = banded.select("band_idx", "band_hash", F.col("id").alias("b"))
    cand = (
        left.join(right, ["band_idx", "band_hash"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )
    # exact verification: join the shingle sets back once per side
    sh_a = base.select(F.col("id").alias("a"), F.col("sh").alias("sh_a"))
    sh_b = base.select(F.col("id").alias("b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(sh_a, "a").join(sh_b, "b")
        .withColumn("jaccard",
                    F.round(_exact_jaccard(F.col("sh_a"), F.col("sh_b")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash64(text_col):
    """64-bit SimHash over tokens, entirely in column algebra: per bit,
    sum +1/-1 votes of each token hash; bit set iff the vote is positive."""
    toks = tokens(text_col)
    # shiftright/shiftleft with a *column* shift amount need call_function
    votes = F.aggregate(
        toks,
        F.array_repeat(F.lit(0).cast("int"), 64),
        lambda acc, t: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                lambda i: (
                    F.call_function("shiftright", F.xxhash64(t), i)
                    .bitwiseAND(F.lit(1)) * 2 - 1
                ).cast("int"),
            ),
            lambda a, v: a + v,
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            F.sequence(F.lit(0), F.lit(63)),
            lambda v, i: F.when(
                v > 0,
                F.call_function("shiftleft", F.lit(1).cast("long"), i),
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def _hamming64(a, b):
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3,
    length_banded: bool = True,
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance <= max_hamming.

    Candidate blocking (composite key, the r2 scale fix):

    * pigeonhole chunks — the 64-bit SimHash splits into
      ``max_hamming + 1`` chunks, so any pair within the hamming budget
      shares at least one identical chunk.  The chunk width is
      ``64 // (max_hamming + 1)``: a LOWER hamming budget buys
      exponentially MORE buckets (h=3 -> 4 x 16-bit chunks = 65k keys,
      h=1 -> 2 x 32-bit chunks = 4.3B keys), which is the knob to turn
      first at web scale.
    * adjacent power-of-two length bands (``length_banded``, default on) —
      the join key adds ``floor(log2(len + 1))`` with the LEFT side
      exploded to bands {b-1, b, b+1}, so every pair whose bands differ
      by <= 1 is still compared (guaranteed whenever the length ratio is
      <= 2; near-identical hamming-<=3 docs are near-identical lengths).
      RECALL BOUND: a pair whose lengths sit >= 2 bands apart is never
      compared, by design — pass ``length_banded=False`` for the
      unbanded (smaller-corpus, full-recall) key.

    Scale ceiling, documented: the per-chunk key space is
    ``2^(64 // (max_hamming+1)) * n_length_bands``; in-bucket verify cost
    is ~ n^2 / key_space per chunk, so at corpus size n keep
    ``n <= key_space * target_bucket``.  Past that, lower max_hamming
    (wider chunks) — SimHash pigeonhole blocking cannot be made
    corpus-adaptive the way MinHash bands / IVF nlist can."""
    n_chunks = max_hamming + 1
    if not 1 <= n_chunks <= 64:
        raise ValueError("need 0 <= max_hamming <= 63")
    width = 64 // n_chunks
    band = (F.floor(F.log2(F.length(F.col(text_col)) + F.lit(1)))
            .cast("long") if length_banded else F.lit(0).cast("long"))
    base = _pin(df.select(F.col(id_col).alias("id"),
                          simhash64(F.col(text_col)).alias("sim"),
                          band.alias("band")))

    def _chunk(c: int):
        # last chunk takes the remaining high bits
        w = width if c < n_chunks - 1 else 64 - width * (n_chunks - 1)
        mask = -1 if w == 64 else (1 << w) - 1
        return F.shiftright("sim", c * width).bitwiseAND(F.lit(mask))

    chunks = base.select(
        "id", "sim", "band",
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("chunk_idx"), _chunk(c).alias("chunk"))
            for c in range(n_chunks)
        ])).alias("c"),
    ).select("id", "sim", "band", "c.chunk_idx", "c.chunk")
    offsets = [-1, 0, 1] if length_banded else [0]
    left = chunks.select(
        "chunk_idx", "chunk", F.col("id").alias("a"),
        F.col("sim").alias("sim_a"),
        F.explode(F.array(*[F.col("band") + F.lit(o) for o in offsets]))
        .alias("band_key"))
    right = chunks.select("chunk_idx", "chunk", F.col("id").alias("b"),
                          F.col("sim").alias("sim_b"),
                          F.col("band").alias("band_key"))
    return (
        left.join(right, ["chunk_idx", "chunk", "band_key"])
        .filter(F.col("a") < F.col("b"))
        .dropDuplicates(["a", "b"])
        .withColumn("hamming", _hamming64(F.col("sim_a"), F.col("sim_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


# ---------------------------------------------------------------------------
# near-dup clustering: connected components over candidate pairs
# ---------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame, nodes: DataFrame | None = None,
    a: str = "a", b: str = "b", max_iter: int = 25,
) -> DataFrame:
    """Label every node with the minimum node id of its connected component.

    Input: an undirected pair table (one row per edge, any orientation) as
    produced by the *_pairs operators above; optionally a `nodes` DataFrame
    (single column) so isolated nodes appear as singleton clusters.

    Algorithm: min-label propagation fused with pointer jumping (path
    halving).  Each round does (1) label(v) := min(label(v), min over
    neighbors' labels) — one shuffle join + partial-agg groupBy — and
    (2) label(v) := label(label(v)) — one self-join.  Pointer jumping makes
    long chains converge in O(log n) rounds instead of O(diameter), which is
    the property that matters at 10^12-node scale (cf. the Hash-to-Min /
    two-phase CC MapReduce algorithms); near-dup graphs are usually
    shallow, so typical runs take 2-4 rounds.  The rounds run through
    graph.iterate: each round's labels are cut lazily (reliable checkpoint
    when a checkpoint dir is set, else localCheckpoint) and the
    changed-label probe's one action fills the cut, so the plan stays
    O(1) deep.
    """
    edges = pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
    edges = (
        edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
        .transform(lambda d: cut_lineage(d, eager=False))
    )
    labels = edges.select(F.col("u").alias("id")).distinct()
    if nodes is not None:
        node_ids = nodes.select(F.col(nodes.columns[0]).alias("id"))
        labels = labels.union(node_ids).distinct()
    labels = labels.withColumn("label", F.col("id")).transform(cut_lineage)

    def relabel(labels, _):
        # (1) pull the min label across each node's neighborhood
        nbr = (
            edges.join(labels.withColumnRenamed("id", "v"), "v")
            .select(F.col("u").alias("id"), "label")
        )
        new = (
            labels.select("id", "label").union(nbr)
            .groupBy("id").agg(F.min("label").alias("label"))
        )
        # (2) pointer jumping: label(id) := label(label(id))
        jump = new.select(F.col("id").alias("label"),
                          F.col("label").alias("label2"))
        return (new.join(jump, "label", "left")
                .select("id", F.coalesce("label2", "label").alias("label")))

    def unchanged(old, new):
        changed = (new.join(old.withColumnRenamed("label", "old"), "id")
                   .filter(F.col("label") != F.col("old")))
        return changed.limit(1).count() == 0

    labels, _ = iterate(relabel, labels, max_iter, unchanged)
    return labels.select("id", F.col("label").alias("cluster_id"))


def dup_clusters(
    df: DataFrame, pairs: DataFrame, id_col: str, order_col,
    a: str = "a", b: str = "b",
) -> DataFrame:
    """Cluster near-duplicate documents and pick one representative each.

    Returns (id, cluster_id, cluster_size, is_rep): cluster_id is the min
    member id, cluster_size the component size, and is_rep marks the row
    that survives dedup — the member with the greatest `order_col` value
    (ties break toward the smaller id), e.g. the longest text."""
    from pyspark.sql.window import Window

    cc = connected_components(pairs, df.select(id_col), a=a, b=b)
    sized = cc.join(
        cc.groupBy("cluster_id").agg(F.count("*").alias("cluster_size")),
        "cluster_id",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("_rep_order").desc(), F.col("id").asc())
    return (
        sized.join(df.select(F.col(id_col).alias("id"),
                             order_col.alias("_rep_order")), "id")
        .withColumn("is_rep", F.row_number().over(w) == 1)
        .select("id", "cluster_id", "cluster_size", "is_rep")
    )


# ---------------------------------------------------------------------------
# edit-distance near-dup pairs with provable length-band blocking
# ---------------------------------------------------------------------------

def editdist_pairs(
    df: DataFrame, id_col: str, text_col: str,
    max_dist: int = 5, band_width: int | None = None,
    extra_key=None,
) -> DataFrame:
    """All pairs with character Levenshtein distance <= max_dist.

    Blocking is LOSSLESS by construction: edit distance d implies
    ``|len(a) - len(b)| <= d`` (each edit changes length by at most 1),
    so with band = floor(len / B) and B > max_dist every qualifying pair
    sits in the same or adjacent band.  Each side is tagged with its own
    band plus the next band down, turning the adjacency condition into a
    plain equi-join — no theta-join, no BroadcastNestedLoopJoin.

    Verification uses Spark's thresholded ``levenshtein(l, r, t)``
    (early-exits the DP once the band minimum exceeds t — O(t * len) per
    pair instead of O(len^2)).

    At corpus scale a pure length band is coarse (many same-length
    docs); ``extra_key`` (a Column, e.g. language or a MinHash band)
    composes into the join key.  Edit-distance verify is the EXPENSIVE
    verifier — the intended scale use is downstream of an LSH/minhash
    candidate generator, with this operator's own banding for bounded
    corpora or post-blocked buckets.

    Mirrors the duplicate-detection intent of the reference's edge/node
    dedup (ebel/manager/orientdb/odb_meta.py insert-if-absent) applied to
    raw text at training-data scale.
    """
    B = band_width if band_width is not None else max_dist + 1
    assert B > max_dist, "band width must exceed max_dist for recall"
    # evaluate extra_key BEFORE the narrow projection: it usually
    # references source columns (language, a MinHash band) that the
    # projection drops
    if extra_key is not None:
        df = df.withColumn("xk", extra_key)
    base = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("txt"),
        F.length(text_col).alias("len"),
        (F.length(text_col) / B).cast("bigint").alias("band"),
        *(["xk"] if extra_key is not None else []))
    # the l.id < r.id orientation filter means either side of a pair can
    # play "left", so left must cover BOTH adjacent bands (band±1) as
    # well as its own for the equi-join to see every |band diff| <= 1
    # pair regardless of which doc has the smaller id
    left = base.select(
        "id", "txt", "len",
        F.explode(F.array(F.col("band") - 1, F.col("band"),
                          F.col("band") + 1)).alias("jb"),
        *(["xk"] if extra_key is not None else []))
    right = base.withColumnRenamed("band", "jb")
    keys = ["jb"] + (["xk"] if extra_key is not None else [])
    lev = F.levenshtein(F.col("l.txt"), F.col("r.txt"), max_dist)
    return (
        left.alias("l").join(right.alias("r"), keys)
        .filter(F.col("l.id") < F.col("r.id"))
        .filter(F.abs(F.col("l.len") - F.col("r.len")) <= max_dist)
        .withColumn("dist", lev)
        .filter(F.col("dist") >= 0)
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"), "dist")
        .dropDuplicates(["a", "b"])
    )


# ---------------------------------------------------------------------------
# duplicated-shingle fraction (corpus-overlap quality signal)
# ---------------------------------------------------------------------------

def dup_shingle_stats(
    df: DataFrame, id_col: str, text_col: str,
    shingle_n: int = 3, min_docs: int = 2,
) -> DataFrame:
    """Per document: how much of its text is duplicated elsewhere in the
    corpus.  ``dup_fraction`` = fraction of the doc's DISTINCT word
    n-gram shingles that occur in >= min_docs distinct documents — the
    standard train-set duplication / boilerplate-contamination signal
    (cf. dedup literature: duplicated-substring fraction per example).

    Shape at 100 TB: one inverted-index shuffle (shingle -> distinct doc
    count, map-side combined) and one shuffle back (shingle -> doc) —
    both keyed on the shingle, the same plan as a distributed word
    count.  Hot shingles skew the df aggregation only (a count, not a
    join), so no quadratic bucket exists anywhere; the join back joins
    each doc-shingle posting against a single df row.
    """
    base = _pin(
        with_shingles(df, text_col, "sh", shingle_n)
        .select(F.col(id_col).alias("id"), "sh"))
    inv = base.select("id", F.explode("sh").alias("shingle"))
    dfreq = (
        inv.groupBy("shingle")
        .agg(F.count_distinct("id").alias("df"))
        .filter(F.col("df") >= min_docs)
        .select("shingle")
    )
    dup_counts = (
        inv.join(dfreq, "shingle")
        .groupBy("id").agg(F.count("*").alias("n_dup"))
    )
    return (
        base.select("id", F.size("sh").alias("n_shingles"))
        .join(dup_counts, "id", "left")
        .select(
            F.col("id"),
            F.col("n_shingles").cast("bigint").alias("n_shingles"),
            F.coalesce(F.col("n_dup"), F.lit(0)).cast("bigint")
            .alias("n_dup_shingles"),
            F.round(
                F.when(F.col("n_shingles") > 0,
                       F.coalesce(F.col("n_dup"), F.lit(0))
                       / F.col("n_shingles")).otherwise(F.lit(0.0)),
                6).alias("dup_fraction"))
    )


def dup_span_stats(
    df: DataFrame, id_col: str, text_col: str,
    span_len: int = 8, min_docs: int = 2,
) -> DataFrame:
    """Exact duplicate-SPAN detection: which token positions of each
    document sit inside a `span_len`-token run that also occurs verbatim
    in >= `min_docs` distinct documents (the span-level exact-substring
    dedup of Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better" — their suffix-array pass re-expressed as positional
    k-gram relational algebra; a 50-token shared substring is covered by
    its length-`span_len` sub-grams, so coverage is identical for any
    shared run >= span_len while needing no global suffix array).

    Complements the doc-LEVEL ops: MinHash/SimHash answer "is this doc a
    near-copy", `repetition_ratios` answers "does this doc repeat
    itself", this answers "WHICH token spans are boilerplate shared
    across the corpus" — the signal used to cut duplicated spans out of
    training examples rather than dropping whole documents.

    Per doc: `n_dup_spans` (duplicated gram occurrences), `n_dup_tokens`
    (distinct covered token positions), `n_dup_regions` (merged maximal
    covered intervals), `dup_token_fraction`.  Docs shorter than
    `span_len` contribute their whole token string as one pseudo-span at
    position 0 (mirroring `shingles`' degenerate case), so two identical
    short docs still flag each other.

    Shape at 100 TB: grams travel as xxhash64 values, never strings
    (~8 bytes/gram on the wire; a 64-bit collision merging two distinct
    grams is ~n^2/2^65 — immaterial for a coverage statistic).  One
    inverted-index shuffle (gram -> distinct-doc count, two-phase partial
    agg), one equi-join back on the gram hash, then per-document
    aggregation whose state is bounded by the document's own token count
    (same bound as holding the text).  Hot boilerplate grams skew only a
    count and an equi-join probe — no pair blowup exists anywhere.
    """
    base = _pin(
        df.select(F.col(id_col).alias("id"),
                  tokens(F.col(text_col)).alias("__toks"))
        .select(
            "id", F.size("__toks").alias("n_tokens"),
            _kgram_hashes_from_tokens(F.col("__toks"), span_len)
            .alias("__ghs"),
        ))
    posting = base.select(
        "id", "n_tokens", F.posexplode("__ghs").alias("start", "gh"))
    dup_ghs = (
        posting.groupBy("gh")
        .agg(F.count_distinct("id").alias("df"))
        .filter(F.col("df") >= min_docs)
        .select("gh")
    )
    dup = posting.join(dup_ghs, "gh")
    nspans = dup.groupBy("id").agg(F.count("*").alias("n_dup_spans"))
    # covered positions: a degenerate whole-doc pseudo-span covers all
    # n_tokens positions, a regular gram covers span_len — least() unifies
    cov = (
        dup.select("id", F.explode(F.sequence(
            F.col("start"),
            F.col("start")
            + F.least(F.lit(span_len), F.col("n_tokens")) - 1,
        )).alias("pos"))
        .dropDuplicates(["id", "pos"])
    )
    covstats = (
        cov.groupBy("id")
        .agg(F.count("*").alias("n_dup_tokens"),
             F.sort_array(F.collect_list("pos")).alias("__ps"))
        # merged-interval count: positions whose predecessor is uncovered
        # start a region; single interpreted-HOF pass over the per-doc
        # covered-position array (bounded by doc length)
        .withColumn("n_dup_regions", F.aggregate(
            F.col("__ps"),
            F.struct(F.lit(-2).alias("prev"), F.lit(0).alias("cnt")),
            lambda acc, p: F.struct(
                p.alias("prev"),
                (acc.cnt + F.when(p > acc.prev + 1, 1).otherwise(0))
                .alias("cnt")),
            lambda acc: acc.cnt))
        .drop("__ps")
    )
    return (
        base.select("id", "n_tokens")
        .join(nspans, "id", "left")
        .join(covstats, "id", "left")
        .select(
            "id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("bigint")
            .alias("n_dup_spans"),
            F.coalesce(F.col("n_dup_tokens"), F.lit(0)).cast("bigint")
            .alias("n_dup_tokens"),
            F.coalesce(F.col("n_dup_regions"), F.lit(0)).cast("bigint")
            .alias("n_dup_regions"),
            F.round(
                F.when(F.col("n_tokens") > 0,
                       F.coalesce(F.col("n_dup_tokens"), F.lit(0))
                       / F.col("n_tokens")).otherwise(F.lit(0.0)),
                6).alias("dup_token_fraction"),
        )
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard with rare-shingle blocking
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str,
    shingle_n: int = 3, threshold: float = 0.5, max_df: int = 50,
) -> DataFrame:
    """All pairs with word-shingle Jaccard >= threshold.  Blocking: inverted
    index on shingles whose document frequency <= max_df (a hot shingle
    would create a quadratic bucket — the cap IS the skew guard; pairs that
    only share ultra-common shingles are below threshold anyway when
    documents are longer than max_df shingles)."""
    base = _pin(
        with_shingles(df, text_col, "sh", shingle_n)
        .select(F.col(id_col).alias("id"), "sh")
        .filter(F.size("sh") > 0))
    inv = base.select("id", F.explode("sh").alias("shingle"))
    rare = (
        inv.groupBy("shingle").count()
        .filter((F.col("count") > 1) & (F.col("count") <= max_df))
        .select("shingle")
    )
    inv = inv.join(F.broadcast(rare), "shingle")
    cand = (
        inv.alias("l").join(inv.alias("r"), "shingle")
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    sh_a = base.select(F.col("id").alias("a"), F.col("sh").alias("sh_a"))
    sh_b = base.select(F.col("id").alias("b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(sh_a, "a").join(sh_b, "b")
        .withColumn("jaccard",
                    F.round(_exact_jaccard(F.col("sh_a"), F.col("sh_b")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame, id_col: str, text_col: str,
    shingle_n: int = 3, threshold: float = 0.8, max_df: int = 50,
) -> DataFrame:
    """Pairs where the smaller document's shingle set is largely CONTAINED
    in the other's: |A ∩ B| / min(|A|, |B|) >= threshold.  Catches
    quote/subset near-dups that symmetric Jaccard misses — a short doc
    embedded verbatim in a long one has Jaccard ≈ |A|/|B| (tiny) but
    containment ≈ 1.  Candidate generation is the same rare-shingle
    inverted index as ngram_jaccard_pairs (df-capped equi-join, never
    all-pairs).

    RECALL BOUND (by design): a pair is found iff the docs share at
    least one shingle with 1 < document-frequency <= max_df.  A quote
    embedded in MORE than max_df documents has every shared shingle
    hotter than the cap, so exactly those pairs are missed.  This is the
    price of never joining a hot posting list: boilerplate shared by d
    documents produces Θ(d^2) qualifying PAIRS — an inherently quadratic
    output no candidate scheme can make linear — so at web scale you
    strip boilerplate first (corpus_frequent_ngrams) or raise max_df
    deliberately for a bounded corpus.  Pinned by
    test_containment_recall_bound_hot_quote."""
    from ..ops.text import with_shingles
    base = _pin(
        with_shingles(df, text_col, "sh", shingle_n)
        .select(F.col(id_col).alias("id"), "sh")
        .filter(F.size("sh") > 0))
    inv = base.select("id", F.explode("sh").alias("shingle"))
    rare = (
        inv.groupBy("shingle").count()
        .filter((F.col("count") > 1) & (F.col("count") <= max_df))
        .select("shingle")
    )
    inv = inv.join(F.broadcast(rare), "shingle")
    cand = (
        inv.alias("l").join(inv.alias("r"), "shingle")
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    sh_a = base.select(F.col("id").alias("a"), F.col("sh").alias("sh_a"))
    sh_b = base.select(F.col("id").alias("b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return (
        cand.join(sh_a, "a").join(sh_b, "b")
        .withColumn(
            "containment",
            F.round(inter / F.least(F.size("sh_a"), F.size("sh_b")), 6))
        .filter(F.col("containment") >= threshold)
        .select("a", "b", "containment")
    )


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    line_words: int = 3,
    max_count: int = 3,
) -> DataFrame:
    """Corpus-level line deduplication (C4 / RefinedWeb-style): drop every
    occurrence of any line that appears more than ``max_count`` times
    across the whole corpus — the standard boilerplate filter (nav bars,
    cookie banners, license headers) applied before document-level dedup.

    Lines are fixed-width ``line_words`` word windows here because the
    synthetic corpus carries no newline structure; on a real web corpus
    swap the line expression for ``F.split(text, '\\n')`` — every
    downstream step is line-definition agnostic.

    Scale shape: ONE map-side-combinable groupBy(line) count builds the
    hot-line set (bounded above by total_lines / max_count rows, and in
    practice boilerplate-sized); membership is a left_anti equi-join that
    AQE broadcasts when small; reassembly is a per-document groupBy whose
    groups are document-sized.  Nothing is quadratic and no global sort
    exists (per-doc order is restored with array_sort inside each group).
    At web scale group lines by xxhash64(line) instead of the raw string
    to shrink the shuffle key (not done here so the DuckDB oracle can
    share the exact grouping key).

    Returns (id_col, n_lines, n_kept, kept_text).
    """
    words = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    base = df.select(
        F.col(id_col), words.alias("ws"),
        F.ceil(F.size(words) / F.lit(float(line_words))).alias("n_lines"),
    )
    w = F.lit(line_words)
    lines = F.when(F.col("n_lines") == 0, F.array().cast("array<string>")) \
        .otherwise(F.transform(
            F.sequence(F.lit(0), (F.col("n_lines") - 1).cast("int")),
            lambda i: F.array_join(F.slice(F.col("ws"), i * w + 1, w), " ")))
    ex = base.select(
        id_col, "n_lines", F.posexplode_outer(lines).alias("pos", "line"))
    hot = (
        ex.filter(F.col("line").isNotNull())
        .groupBy("line").agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > max_count)
        .select("line")
    )
    kept = ex.filter(F.col("line").isNotNull()).join(hot, "line", "left_anti")
    agg = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"]),
            " ").alias("kept_text"),
    )
    return (
        base.select(id_col, "n_lines")
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.col("n_lines").cast("long").alias("n_lines"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("kept_text", F.lit("")).alias("kept_text"),
        )
    )


def boundary_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
) -> DataFrame:
    """Shard-boundary duplicate detection: directed pairs (a, b) where
    the LAST ``k`` tokens of a equal the FIRST ``k`` tokens of b — the
    signature of one logical document split across two crawl records /
    ingest shards (truncation + re-fetch, WARC record splits).

    Each document contributes exactly one suffix-gram row and one
    prefix-gram row, and candidates meet through an equi-join on the
    gram — |result| candidates, never all-pairs, and the gram key is a
    short string (hashable to a long at web scale).  Documents shorter
    than k tokens cannot match (no padding semantics).

    Returns (a, b, gram).
    """
    words = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    base = (
        df.select(F.col(id_col).alias("id"), words.alias("ws"))
        .filter(F.size("ws") >= k)
        .select(
            "id",
            F.array_join(F.slice("ws", 1, k), " ").alias("pre"),
            F.array_join(F.slice("ws", -k, k), " ").alias("suf"),
        )
    )
    left = base.select(F.col("id").alias("a"), F.col("suf").alias("gram"))
    right = base.select(F.col("id").alias("b"), F.col("pre").alias("gram"))
    return (
        left.join(right, "gram")
        .filter(F.col("a") != F.col("b"))
        .select("a", "b", "gram")
    )
