"""Deduplication operators (SURVEY.md §7 M4 — beyond-reference scope).

Exact and near-duplicate detection over a document corpus, all engineered
for 100 TB:

- **Exact**: hash-groupBy on a normalized-content digest — one shuffle on
  the digest, partial aggregation map-side.  (The CDC engine's PK dedup is
  the keyed variant of the same plan — operators/last_wins.py.)
- **MinHash + LSH**: shingle → k minhashes → band buckets → bucket
  equi-join.  Only same-band-bucket pairs are compared, so the candidate
  set is linear-ish in corpus size instead of quadratic.
- **SimHash**: 64-bit sign-aggregated token hash; near-dups differ in few
  bits.  Bucketed by the top bits for candidate generation.
- **N-gram Jaccard**: exact verification on candidate pairs (the
  re-rank step after LSH).

Physical shape (the part that matters at scale): signatures are computed
as ``explode(shingles) → hash-aggregate`` with ``min``/``sum`` combiners,
NOT as higher-order array expressions.  Higher-order functions
(transform/filter/aggregate) evaluate *interpreted* outside whole-stage
codegen; k passes over the shingle array re-inline the shingle expression
k times.  The explode form computes shingles ONCE per row and runs the k
hash/min (or 64 bit-sum) updates inside codegen'd partial aggregation —
map-side combine collapses to one row per doc before the shuffle, so the
exchange carries |docs| rows, not |shingles|.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ydb_cdc_processor_spark.functions.partitioning import ensure_min_partitions


def normalize_text(text: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def exact_dedup_groups(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """(norm_hash, keep_doc_id, dup_count): one row per distinct content,
    keeping the smallest id — a pure hash aggregate (map-side partials,
    single shuffle on the digest)."""
    return (docs
            .select(F.md5(normalize_text(F.col(text_col))).alias("norm_hash"),
                    F.col(id_col))
            .groupBy("norm_hash")
            .agg(F.min(id_col).cast("long").alias("keep_doc_id"),
                 F.count(F.lit(1)).alias("dup_count")))


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingle array of the normalized text."""
    words = F.split(normalize_text(text), " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0)))
    return F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)))


def _exploded_shingles(docs: DataFrame, id_col: str, text_col: str,
                       n_shingle: int) -> DataFrame:
    """(doc, _s) — one row per shingle; ``_s`` null for empty docs
    (explode_outer) so every doc keeps a signature row downstream."""
    return ensure_min_partitions(docs.select(
        F.col(id_col).alias("doc"), F.col(text_col))) \
        .select("doc",
                F.explode_outer(shingles(F.col(text_col), n_shingle))
                 .alias("_s"))


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n_shingle: int = 3,
                       k: int = 16, hash_fn: str = "xxhash64") -> DataFrame:
    """(doc, mh0..mh{k-1}) — k-permutation MinHash via k salted hash
    min-aggregates over exploded shingles (all codegen, map-side
    combined; the shuffle carries one row per doc).

    ``hash_fn``: ``"xxhash64"`` (fastest, JVM-only) or ``"md5"`` — salted
    md5 hex strings, whose lexicographic MIN is an equally valid uniform
    permutation ordering AND is computable verbatim by any engine with
    ``md5()`` (the cross-engine oracle path; DuckDB lacks xxhash64)."""
    ex = _exploded_shingles(docs, id_col, text_col, n_shingle)
    if hash_fn == "md5":
        cols = [F.min(F.md5(F.concat_ws(":", F.col("_s"), F.lit(str(i)))))
                 .alias(f"mh{i}") for i in range(k)]
    else:
        cols = [F.min(F.xxhash64(F.col("_s"), F.lit(i))).alias(f"mh{i}")
                for i in range(k)]
    return ex.groupBy("doc").agg(*cols)


def minhash_lsh_pairs(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n_shingle: int = 3,
                      k: int = 16, bands: int = 4,
                      hash_fn: str = "xxhash64") -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    signature (k minhashes) → ``bands`` bands of k/bands rows → a doc
    lands in one bucket per band → pairs sharing any bucket are candidates.
    Self-join is on (band, bucket_hash): an equi-join, shuffle-partitioned
    by bucket — the scalable formulation (never all-pairs).
    Returns (doc_a, doc_b) with doc_a < doc_b, distinct.
    """
    rows_per_band = k // bands
    sig = minhash_signatures(docs, id_col, text_col, n_shingle, k, hash_fn)
    bucket_of = F.md5 if hash_fn == "md5" else F.xxhash64
    band_rows = sig.select(
        "doc",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     bucket_of(F.concat_ws(
                         ",", *[F.col(f"mh{b * rows_per_band + r}")
                                for r in range(rows_per_band)])).alias("bucket"))
            for b in range(bands)])).alias("bb")) \
        .select("doc", "bb.band", "bb.bucket")
    left = band_rows.withColumnRenamed("doc", "doc_a")
    right = band_rows.withColumnRenamed("doc", "doc_b")
    return (left.join(right, on=["band", "bucket"])
                .where(F.col("doc_a") < F.col("doc_b"))
                .select("doc_a", "doc_b").distinct())


def duplicate_clusters(pairs: DataFrame, max_iter: int = 20,
                       algorithm: str = "label") -> DataFrame:
    """Resolve near-dup PAIRS into duplicate CLUSTERS: connected
    components, each labeled by its minimum doc id (the canonical
    survivor a curation pipeline keeps).

    ``algorithm="label"`` (default): iterative min-label propagation —
    per round, every doc takes the min of its own label and its
    neighbors'; fixpoint when no label changes.  Each round is one
    equi-join + hash-agg (shuffle on doc id both times — the
    partitioning is reused), with ``localCheckpoint`` cutting the plan
    lineage so round N's plan does not embed rounds 1..N-1.  Rounds
    needed = graph diameter; duplicate clusters are near-cliques
    (diameter ~1-2), so this converges in 2-3 rounds in practice.

    ``algorithm="star"``: alternating large-star/small-star (the
    MapReduce connected-components construction of Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14 — public
    algorithm, re-expressed as DataFrame joins/aggregations).  Converges
    in O(log n) rounds REGARDLESS of diameter — the scale-safe choice
    for adversarial chain-shaped duplicate graphs, at the price of ~2×
    the per-round work (two conditional join+agg passes per round).

    The per-round convergence count is an action — O(rounds) extra
    driver round-trips, inherent to any fixpoint on Spark.

    Input: (doc_a, doc_b) pairs.  Output: (doc_id, cluster_id) for every
    doc appearing in a pair.
    """
    if algorithm == "star":
        return _clusters_star(pairs, max_iter)
    if algorithm != "label":
        raise ValueError(f"unknown algorithm {algorithm!r}")
    edges = (pairs.select(F.col("doc_a").alias("src"),
                          F.col("doc_b").alias("dst"))
             .unionByName(pairs.select(F.col("doc_b").alias("src"),
                                       F.col("doc_a").alias("dst"))))
    # round 0 fused into the init: label = min(self ∪ neighbors) is one
    # hash-agg over the edge list, no join — diameter-1 components (the
    # common near-dup clique) are already final here
    labels = (edges.groupBy(F.col("src").alias("doc"))
              .agg(F.least(F.first("src"), F.min("dst")).alias("label"))
              .localCheckpoint(eager=True))
    converged = False
    for _ in range(max_iter):
        nbr = (edges.join(labels.withColumnRenamed("doc", "src"), on="src")
               .groupBy(F.col("dst").alias("doc"))
               .agg(F.min("label").alias("nbr_min")))
        # a label changes exactly when a neighbor's is smaller: the
        # flag rides the checkpoint, so the convergence count scans it
        # instead of joining the new labels back to the old ones
        step = (labels.join(nbr, on="doc", how="left")
                .select("doc",
                        F.least("label", F.coalesce("nbr_min", "label"))
                         .alias("label"),
                        F.coalesce(F.col("nbr_min") < F.col("label"),
                                   F.lit(False)).alias("_chg"))
                .localCheckpoint(eager=True))
        changed = step.where("_chg").count()
        labels = step.drop("_chg")
        if changed == 0:
            converged = True
            break
    if not converged:
        import logging
        logging.getLogger(__name__).warning(
            "duplicate_clusters: no fixpoint after %d rounds — labels may "
            "be non-canonical for components of diameter > %d (raise "
            "max_iter, or use a large-star/small-star variant)",
            max_iter, max_iter + 1)
    return labels.select(F.col("doc").cast("long").alias("doc_id"),
                         F.col("label").cast("long").alias("cluster_id"))


def _canon(e: DataFrame) -> DataFrame:
    """Canonical undirected edge set: (u=min, v=max), no self-loops."""
    return (e.select(F.least("a", "b").alias("u"),
                     F.greatest("a", "b").alias("v"))
            .where(F.col("u") != F.col("v")).distinct())


def _edge_digest(e: DataFrame) -> tuple:
    """(row count, order-independent hash sum) of a canonical edge set —
    the cheap set-equality probe for the fixpoint check."""
    r = e.agg(F.count(F.lit(1)).alias("n"),
              F.sum(F.xxhash64("u", "v").cast("decimal(38,0)"))
               .alias("h")).first()
    return (r["n"], r["h"])


def _clusters_star(pairs: DataFrame, max_iter: int) -> DataFrame:
    """Large-star/small-star alternation.  Per round:

    - **large-star**: every node links its strictly-LARGER neighbors to
      the minimum of its neighborhood (∪ itself) — long chains collapse
      toward minima from everywhere at once, halving component height.
    - **small-star**: every node links its smaller-or-equal neighbors
      (and itself) to the neighborhood minimum — stars re-form so the
      next large-star acts on shallow trees.

    Both steps are a symmetric edge list → per-node min aggregate →
    conditional equi-join, all codegen; the edge set is checkpointed per
    round (lineage cut, same as the label variant).  Fixpoint when the
    canonical edge set stops changing — then every component is a star
    centered on its minimum id, and labels read off the star edges."""
    edges = _canon(pairs.select(F.col("doc_a").alias("a"),
                                F.col("doc_b").alias("b"))) \
        .localCheckpoint(eager=True)
    all_docs = (pairs.select(F.col("doc_a").alias("doc"))
                .unionByName(pairs.select(F.col("doc_b").alias("doc")))
                .distinct())
    converged = False
    prev_digest = _edge_digest(edges)
    for _ in range(max_iter):
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # large-star: m(u) = min(N(u) ∪ {u}); emit (v, m) for v > u
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m"))
        large = (sym.join(mins, on="u")
                 .where(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("a"), F.col("m").alias("b")))
        e1 = _canon(large)
        # small-star: on edges pointing down (v < u):
        # m(u) = min of smaller neighbors; emit (v, m) ∀v and (u, m)
        sym1 = e1.unionByName(
            e1.select(F.col("v").alias("u"), F.col("u").alias("v")))
        down = sym1.where(F.col("v") < F.col("u"))
        mins2 = down.groupBy("u").agg(F.min("v").alias("m"))
        small = (down.join(mins2, on="u")
                 .select(F.col("v").alias("a"), F.col("m").alias("b"))
                 .unionByName(mins2.select(F.col("u").alias("a"),
                                           F.col("m").alias("b"))))
        e2 = _canon(small).localCheckpoint(eager=True)
        # fixpoint: canonical edge sets equal — compared as (count,
        # order-independent hash-sum), one cheap aggregate per side
        # instead of two anti-join shuffles per round.  A hash-sum
        # collision (two different edge sets with equal count AND equal
        # 64-bit sum) would stop one round early at probability ~2^-64;
        # the star fixpoint is also self-certifying — a star set maps to
        # itself — so a premature stop still returns star-shaped labels.
        digest = _edge_digest(e2)
        changed = digest != prev_digest
        prev_digest = digest
        edges = e2
        if not changed:
            converged = True
            break
    if not converged:
        import logging
        logging.getLogger(__name__).warning(
            "duplicate_clusters(star): no fixpoint after %d rounds — "
            "labels may be non-canonical (raise max_iter; expected "
            "rounds are O(log n))", max_iter)
    # post-fixpoint the graph is a union of stars centered on component
    # minima: label(node) = min(neighbors ∪ self)
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    labels = sym.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("label"))
    return (all_docs.join(labels, all_docs.doc == labels.u, "left")
            .select(F.col("doc").cast("long").alias("doc_id"),
                    F.coalesce("label", "doc").cast("long")
                     .alias("cluster_id")))


def minhash_jaccard_estimate(docs: DataFrame, pairs: DataFrame,
                             id_col: str = "doc_id", text_col: str = "text",
                             n_shingle: int = 3, k: int = 16,
                             hash_fn: str = "xxhash64") -> DataFrame:
    """Signature-level Jaccard ESTIMATE for candidate pairs: the fraction
    of agreeing MinHash components (E[estimate] = true Jaccard — the
    defining MinHash property).

    100 TB shape: the estimate joins k-integer signatures only — the
    corpus is never re-read or re-shingled per pair.  The cheap filter
    before :func:`ngram_jaccard`'s exact verify: estimate every LSH
    candidate, run the exact set intersection only on survivors."""
    sig = minhash_signatures(docs, id_col, text_col, n_shingle, k, hash_fn)
    a = sig.select(F.col("doc").alias("doc_a"),
                   *[F.col(f"mh{i}").alias(f"_a{i}") for i in range(k)])
    b = sig.select(F.col("doc").alias("doc_b"),
                   *[F.col(f"mh{i}").alias(f"_b{i}") for i in range(k)])
    matches = None
    for i in range(k):
        m = (F.col(f"_a{i}") == F.col(f"_b{i}")).cast("int")
        matches = m if matches is None else matches + m
    return (pairs.join(a, on="doc_a").join(b, on="doc_b")
            .select("doc_a", "doc_b",
                    F.round(matches / F.lit(float(k)), 6)
                     .alias("est_jaccard")))


def ngram_jaccard(docs: DataFrame, pairs: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  n: int = 3) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs (the verify
    step after LSH).  Joins are by doc id — broadcastable when the
    candidate set is small (it is, post-LSH)."""
    sh = ensure_min_partitions(docs.select(
        F.col(id_col).alias("_id"), F.col(text_col))) \
        .select("_id",
                F.array_distinct(shingles(F.col(text_col), n)).alias("_sh"))
    j = (pairs
         .join(sh.withColumnRenamed("_id", "doc_a")
                 .withColumnRenamed("_sh", "sh_a"), on="doc_a")
         .join(sh.withColumnRenamed("_id", "doc_b")
                 .withColumnRenamed("_sh", "sh_b"), on="doc_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return j.select(
        "doc_a", "doc_b",
        F.round(inter / F.greatest(union, F.lit(1)), 6).alias("jaccard"))


def simhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       n_shingle: int = 2,
                       hash_fn: str = "xxhash64") -> DataFrame:
    """(doc, simhash) — 64-bit SimHash: per-bit majority vote of shingle
    hashes as 64 codegen'd ±1 sum-aggregates over exploded shingles.

    Bit b is set when at least half the shingle hashes have bit b set
    (ties → set, matching the classic formulation); docs with no shingles
    get all-bits-set (vacuous majority), keeping them in one bucket
    together.  Near-duplicate documents have small Hamming distance.

    ``hash_fn="md5"`` takes the low 64 bits of md5 (last 16 hex chars,
    big-endian) as the shingle hash — bit-reconstructable in plain SQL via
    hex-digit parsing, so an external engine can replay the vote exactly
    (the cross-engine oracle path)."""
    ex = _exploded_shingles(docs, id_col, text_col, n_shingle)
    if hash_fn == "md5":
        # 16 hex digits of the low 64 bits, _d1 most significant; computed
        # once per shingle in a projection, reused by all 64 vote aggs
        ex = ex.withColumn("_h64", F.substring(F.md5(F.col("_s")), 17, 16))
        ex = ex.select(
            "doc", "_s",
            *[F.conv(F.substring("_h64", d, 1), 16, 10).cast("int")
               .alias(f"_d{d}") for d in range(1, 17)])

        def bit(b: int) -> Column:
            d, j = 16 - b // 4, b % 4
            return F.shiftright(f"_d{d}", j).bitwiseAND(F.lit(1))
    else:
        ex = ex.withColumn("_h", F.xxhash64("_s"))

        def bit(b: int) -> Column:
            return F.shiftright("_h", b).bitwiseAND(F.lit(1))
    # ±1 vote per shingle per bit; null shingle (empty doc) votes 0 so the
    # sum is 0 → majority-true for every bit, matching ones*2 >= size.
    votes = [
        F.sum(F.when(F.col("_s").isNull(), F.lit(0))
               .when(bit(b) == 1, F.lit(1))
               .otherwise(F.lit(-1))).alias(f"v{b}")
        for b in range(64)]
    agg = ex.groupBy("doc").agg(*votes)
    total = None
    for b in range(64):
        bit = F.when(F.col(f"v{b}") >= 0, F.lit(1)).otherwise(F.lit(0)) \
               .cast("long") * F.lit(2 ** b if b < 63 else -(2 ** 63))
        total = bit if total is None else total + bit
    return agg.select("doc", total.alias("simhash"))


def simhash_candidates(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       prefix_bits: int = 16,
                       hash_fn: str = "xxhash64") -> DataFrame:
    """Bucket docs by the top ``prefix_bits`` of their SimHash — candidate
    near-dup groups come from shared buckets (multi-probe/rotation tables
    extend recall; one table here)."""
    sig = simhash_signatures(docs, id_col, text_col, hash_fn=hash_fn)
    return sig.withColumn(
        "bucket", F.shiftrightunsigned("simhash", 64 - prefix_bits))


def jaccard_similarity_join(docs: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text",
                            threshold: float = 0.9) -> DataFrame:
    """EXACT token-set similarity join with prefix filtering (the
    SSJoin/PPJoin family, Chaudhuri et al. ICDE'06 / Xiao et al.
    WWW'08): every document pair whose word-set Jaccard is ≥
    ``threshold``, with exact scores — no LSH approximation, yet never
    an all-pairs comparison.

    Prefix filter: order every document's token set by one global total
    order (ascending document frequency, ties on the token — rarest
    first); if two sets satisfy J ≥ t, the prefixes of length
    ``|s| − ⌈t·|s|⌉ + 1`` MUST share a token (pigeonhole on the
    guaranteed overlap ``⌈t·|s|⌉``).  Candidates are therefore found by
    an equi-join on PREFIX tokens only — and because prefixes hold each
    set's globally rarest tokens, the join's per-token bucket sizes are
    the smallest possible ones.  A length filter (``t·|a| ≤ |b|``,
    necessary since J ≤ min/max of the sizes) prunes further before
    verification.

    Plan shape (100 TB): token df table built once (hash agg) and
    broadcast; per-doc ranking is ONE window pass over a doc-keyed
    shuffle (rank and set size in the same pass); prefix equi-join on
    the token; exact intersection counts computed only for surviving
    candidate pairs via two id-equi-joins + a hash agg.  The float
    prefix-length arithmetic is guarded with +1e-9 so representation
    error can only ENLARGE a prefix (more candidates, never a missed
    pair); correctness never depends on the filter, only completeness
    does, and the verify step recomputes exact J for every candidate.

    Output: ``(doc_a, doc_b, n_a, n_b, n_inter, jaccard)`` with
    ``doc_a < doc_b`` and jaccard rounded to 6 digits after the
    threshold test.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    t = threshold
    # distinct tokens per doc WITHOUT a distinct shuffle: array_distinct
    # is per-row local, then explode (outer: see contamination())
    toks = (ensure_min_partitions(
                docs.select(F.col(id_col).alias("doc"), F.col(text_col)))
            .select("doc",
                    F.explode_outer(
                        F.array_distinct(F.split(F.col(text_col), " ")))
                     .alias("w"))
            .where(F.col("w").isNotNull() & (F.col("w") != "")))
    dfreq = toks.groupBy("w").agg(F.count(F.lit(1)).alias("_df"))
    from pyspark.sql import Window
    wr = Window.partitionBy("doc").orderBy(F.col("_df").asc(),
                                           F.col("w").asc())
    wn = Window.partitionBy("doc")
    ranked = (toks.join(F.broadcast(dfreq), on="w")
              .select("doc", "w",
                      F.row_number().over(wr).alias("_r"),
                      F.count(F.lit(1)).over(wn).alias("_n")))
    # prefix length n − ⌈t·n⌉ + 1 = ⌊(1−t)·n⌋ + 1; ε guards float
    # under-rounding (a too-LONG prefix is always safe)
    plen = (F.floor((1.0 - t) * F.col("_n") + 1e-9) + 1)
    prefix = ranked.where(F.col("_r") <= plen) \
                   .select("doc", "w", F.col("_n").alias("n"))
    pa = prefix.select(F.col("doc").alias("doc_a"),
                       F.col("n").alias("n_a"), "w")
    pb = prefix.select(F.col("doc").alias("doc_b"),
                       F.col("n").alias("n_b"), "w")
    cand = (pa.join(pb, on="w")
            .where((F.col("doc_a") < F.col("doc_b"))
                   & (F.col("n_b") >= t * F.col("n_a") - 1e-9)
                   & (F.col("n_a") >= t * F.col("n_b") - 1e-9))
            .select("doc_a", "doc_b", "n_a", "n_b")
            .distinct())
    # exact verify: intersection size for candidates only.  Joining the
    # pairs to per-doc token ARRAYS and intersecting in codegen beats
    # the explode-join-reagg formulation by the token fan-out factor
    # (measured 3×+ on a dense corpus where candidates are plentiful):
    # two |cand|-row hash joins instead of |cand|·|set| exploded rows
    # through a shuffle and hash agg.
    sets = docs.select(
        F.col(id_col).alias("_sid"),
        F.array_remove(F.array_distinct(F.split(F.col(text_col), " ")),
                       "").alias("_set"))
    inter = (cand
             .join(sets.select(F.col("_sid").alias("doc_a"),
                               F.col("_set").alias("_set_a")), on="doc_a")
             .join(sets.select(F.col("_sid").alias("doc_b"),
                               F.col("_set").alias("_set_b")), on="doc_b")
             .select("doc_a", "doc_b", "n_a", "n_b",
                     F.size(F.array_intersect("_set_a", "_set_b"))
                      .alias("n_inter")))
    j = F.col("n_inter") / (F.col("n_a") + F.col("n_b")
                            - F.col("n_inter"))
    return (inter.where(j >= t)
            .select("doc_a", "doc_b",
                    F.col("n_a").cast("long").alias("n_a"),
                    F.col("n_b").cast("long").alias("n_b"),
                    F.col("n_inter").cast("long").alias("n_inter"),
                    F.round(j, 6).alias("jaccard")))


def dup_ngram_coverage(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n: int = 8) -> DataFrame:
    """Per-document duplicate-n-gram coverage — the "how much of this
    document also appears elsewhere" signal from Lee et al. 2021
    ("Deduplicating Training Data Makes Language Models Better"), used
    to FLAG heavily-duplicated documents rather than delete spans.

    For each document: the number of distinct word ``n``-grams it
    contains, how many of those occur in at least one OTHER document,
    and the coverage fraction.  Documents shorter than ``n`` words have
    zero grams and a NULL fraction.

    Scale shape: grams are hashed to md5 BEFORE the shuffle (32-byte
    keys instead of n-word strings), per-doc distinct is a per-row
    ``array_distinct`` (no shuffle), the gram document-frequency table
    is one hash agg, and the flag-back is a left-semi equi-join on the
    gram hash — corpus text never shuffles, never all-pairs.
    """
    words = F.split(normalize_text(F.col(text_col)), " ")
    kmax = F.size(words) - F.lit(n - 1)
    grams = F.when(
        kmax >= 1,
        F.transform(F.sequence(F.lit(1), kmax),
                    lambda i: F.md5(F.concat_ws(" ", F.slice(words, i, n))))
    ).otherwise(F.array().cast("array<string>"))
    # ONE exploded (doc, gram) subtree feeds both the gram-df agg and
    # the flag-back join: both shuffle on ``g``, so Catalyst reuses the
    # exchange and the md5/transform forest evaluates ONCE — the naive
    # {totals, df, semi-join} 3-branch shape re-computed it per branch
    # (measured 10.3 s → this shape at sf0.1).  explode_outer, not
    # explode: InferFiltersFromGenerate would push a size()>0 twin of
    # the whole expression below the exchange (the documented gotcha).
    pairs = (docs.select(F.col(id_col).alias("doc"),
                         F.explode_outer(F.array_distinct(grams))
                          .alias("g"))
             .where(F.col("g").isNotNull()))
    dfg = pairs.groupBy("g").agg(F.count(F.lit(1)).alias("nd"))
    per = (pairs.join(dfg, on="g")
           .groupBy("doc")
           .agg(F.count(F.lit(1)).cast("long").alias("n_grams"),
                F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
                 .cast("long").alias("n_shared")))
    out = (docs.select(F.col(id_col).alias("doc"))
           .join(per, on="doc", how="left")
           .select(F.col("doc").alias(id_col),
                   F.coalesce(F.col("n_grams"), F.lit(0)).cast("long")
                    .alias("n_grams"),
                   F.coalesce(F.col("n_shared"), F.lit(0)).cast("long")
                    .alias("n_shared")))
    return out.withColumn(
        "dup_frac",
        F.when(F.col("n_grams") > 0,
               F.round(F.col("n_shared") / F.col("n_grams"), 6)))


def ngram_containment(docs: DataFrame, pairs: DataFrame,
                      id_col: str = "doc_id", text_col: str = "text",
                      n: int = 3) -> DataFrame:
    """Exact n-gram CONTAINMENT for candidate pairs: ``C(A→B) =
    |A∩B| / |A|`` and the reverse — the asymmetric near-dup signal
    Jaccard misses.  A short document quoted wholesale inside a long one
    has tiny Jaccard (the union is huge) but containment ≈ 1 in one
    direction; quote/boilerplate detection filters on max(c_ab, c_ba).

    Same shape as :func:`ngram_jaccard`: shingle sets joined onto the
    (post-LSH, bounded) candidate pairs by doc id — never all-pairs."""
    sh = ensure_min_partitions(docs.select(
        F.col(id_col).alias("_id"), F.col(text_col))) \
        .select("_id",
                F.array_distinct(shingles(F.col(text_col), n)).alias("_sh"))
    j = (pairs
         .join(sh.withColumnRenamed("_id", "doc_a")
                 .withColumnRenamed("_sh", "sh_a"), on="doc_a")
         .join(sh.withColumnRenamed("_id", "doc_b")
                 .withColumnRenamed("_sh", "sh_b"), on="doc_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return j.select(
        "doc_a", "doc_b",
        F.size("sh_a").cast("long").alias("n_a"),
        F.size("sh_b").cast("long").alias("n_b"),
        inter.cast("long").alias("n_inter"),
        F.round(inter / F.greatest(F.size("sh_a"), F.lit(1)), 6)
         .alias("contain_ab"),
        F.round(inter / F.greatest(F.size("sh_b"), F.lit(1)), 6)
         .alias("contain_ba"))


def duplicate_spans(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", k: int = 5,
                    min_docs: int = 2) -> DataFrame:
    """SPAN-level duplicate detection — the sub-document sibling of the
    whole-doc dedup family (the ExactSubstr idea of Lee et al.,
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499, re-expressed relationally): boilerplate, license
    headers, and quoted passages repeat across otherwise-distinct
    documents, and removing the repeated SPAN beats dropping either doc.

    A ``k``-token window whose content appears in ≥ ``min_docs`` distinct
    docs marks its token positions duplicated; runs of overlapping or
    adjacent duplicated windows merge into maximal spans per doc (island
    detection: a window whose start is ≤ k tokens after the previous
    duplicated start extends the span).

    Output: ``(doc_id, span_start, span_end, n_tokens)`` — inclusive
    token-index spans into the whitespace-normalized token sequence.
    Callers feed them to :func:`strip_spans` (remove everywhere) or keep
    one canonical occurrence by exempting the min-doc owner per span
    content — a policy choice, deliberately not baked in here.

    Scale shape: gram extraction is one projection (tokens computed once
    per row); the duplicated-gram set is a hash aggregate on the 32-byte
    gram digest (map-side combine → the shuffle carries one row per
    distinct gram); marking is an equi-join on the digest (AQE handles
    the hot-boilerplate skew); span merge is a per-doc window — never
    anything all-pairs or corpus-quadratic.  The exploded gram stream is
    eagerly checkpointed: it feeds BOTH the dup-gram aggregate and the
    mark-join, and re-executing the md5-per-window forest per consumer
    (plus the posexplode double-eval InferFiltersFromGenerate causes —
    the documented explode gotcha) measured 16 s → 5 s at sf0.1."""
    g = gram_stream(docs, id_col, text_col, k)
    dup = (g.groupBy("_h")
           .agg(F.countDistinct(id_col).alias("_nd"))
           .where(F.col("_nd") >= min_docs)
           .select("_h"))
    hits = g.join(dup, on="_h").select(id_col, "pos")
    return merge_islands(hits, id_col, k)


def gram_stream(docs: DataFrame, id_col: str, text_col: str,
                k: int) -> DataFrame:
    """(id, pos, _h) — one row per k-token window of the normalized
    token sequence, ``_h`` the md5 digest of the window's text, ``pos``
    its 0-based start token.  Docs shorter than k tokens emit nothing.
    Eagerly checkpointed: every consumer (duplicate_spans, the span-dup
    index) reads it at least twice."""
    words = F.split(normalize_text(F.col(text_col)), " ")
    idx = F.when(F.size(words) >= k,
                 F.sequence(F.lit(0), F.size(words) - k)) \
        .otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx, lambda i: F.md5(F.concat_ws(" ", F.slice(words, i + 1, k))))
    return (ensure_min_partitions(docs.select(F.col(id_col),
                                              F.col(text_col)))
            .select(id_col, F.posexplode(grams).alias("pos", "_h"))
            .localCheckpoint(eager=True))


def merge_islands(hits: DataFrame, id_col: str, k: int) -> DataFrame:
    """Merge duplicated k-window start positions ``(id, pos)`` into
    maximal inclusive token spans: a window starting ≤ k tokens after
    the previous duplicated start overlaps-or-touches it and extends
    the span.  One per-doc lag+cumsum window."""
    w = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(F.lag("pos").over(w).isNull()
                 | ((F.col("pos") - F.lag("pos").over(w)) > k), 1) \
        .otherwise(0)
    isl = hits.withColumn("_brk", brk).withColumn(
        "_island", F.sum("_brk").over(w))
    return (isl.groupBy(id_col, "_island")
            .agg(F.min("pos").cast("long").alias("span_start"),
                 (F.max("pos") + k - 1).cast("long").alias("span_end"),
                 (F.max("pos") + k - F.min("pos")).cast("long")
                 .alias("n_tokens"))
            .drop("_island"))


def strip_spans(docs: DataFrame, spans: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Remove flagged duplicate spans from each document's normalized
    token sequence: tokens whose position falls inside ANY of the doc's
    ``(span_start, span_end)`` intervals are dropped, the rest re-join
    with single spaces.  Documents with no spans pass through with only
    whitespace normalization (so output text is uniformly normalized).

    One aggregation of spans per doc (bounded: spans are maximal, thus
    disjoint) + a broadcast-friendly left join + a per-row filter over
    the token array — no shuffle beyond the span agg when the span side
    is small, and never a per-row Python UDF."""
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans"))
    j = docs.join(per_doc, on=id_col, how="left")
    words = F.split(normalize_text(F.col(text_col)), " ")
    keep = F.filter(
        words,
        lambda wrd, i: ~F.exists(
            F.coalesce(F.col("_spans"),
                       F.array().cast(
                           "array<struct<span_start:long,span_end:long>>")),
            lambda s: (i >= s.span_start) & (i <= s.span_end)))
    return (j.withColumn(text_col, F.concat_ws(" ", keep))
            .drop("_spans"))
