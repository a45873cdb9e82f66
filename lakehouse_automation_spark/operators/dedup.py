"""Document-deduplication operators for the training-data pipeline.

The reference delegates all analytics to HeatWave (lib/commondb.py:81-108);
a lakehouse feeding LLM training data additionally needs near-duplicate
removal at corpus scale. Everything here is pure DataFrame composition —
JVM-side higher-order functions, no Python in the row path — so Catalyst
plans it like any other query and it scales by partitioning on doc_id.

Portability contract: every hash is derived from md5 (specification-fixed),
so a DuckDB oracle can replay the exact computation:

    Spark : conv(substring(md5(s), 1, 15), 16, 10)::long
    DuckDB: CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)

60-bit positive values, identical in both engines (verified in tests).

Scale notes (100 TB corpus, ~1e10 docs):
- shingling + signatures are embarrassingly parallel (narrow per-row ops);
- candidate generation shuffles on (band_id, band_hash) / shingle hash —
  bounded keys, no all-pairs cross join anywhere;
- hot shingles are frequency-capped (``max_shingle_df``) before the
  pair-join, the standard guard against quadratic blowup on boilerplate.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window, functions as F

from .cache import tracked_persist

# ---------------------------------------------------------------- constants

MERSENNE31 = 2_147_483_647  # 2^31 - 1, prime; products stay < 2^63

_rng = random.Random(0x5EED)
N_PERM = 16          # minhash permutations
N_BANDS = 4          # LSH bands (r = 4 rows/band -> s-curve thr ~0.71)
ROWS_PER_BAND = N_PERM // N_BANDS
MINHASH_A = [_rng.randrange(1, MERSENNE31) for _ in range(N_PERM)]
MINHASH_B = [_rng.randrange(0, MERSENNE31) for _ in range(N_PERM)]

SIMHASH_BITS = 32
SIMHASH_CHUNKS = 4   # 8-bit chunks; equal-chunk candidates cover hamming<=3


# ------------------------------------------------------------ hash & shingle

def portable_hash(col: Column) -> Column:
    """md5-derived 60-bit positive hash, bit-identical in DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def portable_hash_sql(expr: str) -> str:
    """The DuckDB spelling of :func:`portable_hash`."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization (documents.text is space-delimited)."""
    return F.split(text, " ")


def shingles_col(toks: Column, k: int) -> Column:
    """Distinct k-word shingles as an array<string> (JVM-side lambdas).

    ``toks`` must be a MATERIALIZED token-array attribute (project
    ``tokens_col(text)`` in a prior select), not the raw split
    expression: the lambda references the array ~3x per shingle, and an
    inline ``split()`` would re-tokenize the whole document for every
    reference (measured ~10x slowdown on the shingle explode).

    Guarded for docs shorter than k tokens: Spark's ``sequence(1, n)``
    counts DOWN when n < 1, so the short-doc branch returns [] instead.
    """
    n = F.size(toks) - (k - 1)
    built = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + off) for off in range(k)]
        ),
    )
    empty = F.array().cast("array<string>")
    return F.array_distinct(F.when(n >= 1, built).otherwise(empty))


def shingles_sql(k: int, tcol: str = "t") -> str:
    """DuckDB spelling of :func:`shingles_col`.

    Expects a list<varchar> column named ``tcol`` (the split tokens) in
    scope — lambdas capture outer columns, and DuckDB's ``range(a, b)``
    is empty when b <= a so no short-doc guard is needed. 1-based
    list indexing mirrors Spark's ``element_at``.
    """
    parts = " || ' ' || ".join(f"{tcol}[i+{off}]" for off in range(k))
    return (
        f"list_distinct(list_transform("
        f"range(1, len({tcol}) - ({k - 2})), i -> {parts}))"
    )


def shingle_hashes_col(toks: Column, k: int) -> Column:
    """Distinct shingle hashes reduced mod 2^31-1 (minhash domain).
    ``toks`` must be a materialized token array (see shingles_col)."""
    return F.array_distinct(
        F.transform(
            shingles_col(toks, k),
            lambda s: portable_hash(s) % F.lit(MERSENNE31),
        )
    )


# ------------------------------------------------------------- exact dedup

# Engine-portable content normalization for exact dedup. The dedup
# verdict must be REPLAYABLE by any engine (our oracle is DuckDB), so
# every rule is pinned to an explicit character set the engines are
# guaranteed to agree on — the generic forms silently diverge:
#   - trim strips 0x20 ONLY. Spark's trim() already does; DuckDB's
#     default trim() also eats \t \n \r \v \f, so the SQL side must
#     say trim(text, ' ') (caught by the round-8 dirty-text sweep on
#     NBSP/thin-space/tab padding).
#   - case-fold ASCII A-Z ONLY, via translate. Unicode lower()
#     diverges between Java and utf8proc (Turkish dotted İ -> "i̇"
#     vs "i"; Greek Σ final-sigma rule), so a lower()-based hash is
#     not portable across engines.
#   - collapse runs of 0x20 (same regex both sides).
_AZ_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_AZ_LOWER = "abcdefghijklmnopqrstuvwxyz"

#: DuckDB/ANSI replica of :func:`content_norm_col`; format with the
#: column name, e.g. ``CONTENT_NORM_SQL.format(col="text")``.
CONTENT_NORM_SQL = (
    "regexp_replace(translate(trim({col}, ' '), "
    f"'{_AZ_UPPER}', '{_AZ_LOWER}'), ' +', ' ', 'g')"
)


def content_norm_col(col: Column | str = "text") -> Column:
    """The Spark side of the portable normalization (see above)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(
        F.translate(F.trim(c), _AZ_UPPER, _AZ_LOWER), " +", " ")


def exact_dedup_groups(docs: DataFrame, text: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by md5 of normalized text.

    Returns one row per distinct content hash: (content_md5, n_docs,
    keeper_id = min doc id). At scale this is one hash-shuffle on a
    16-byte key with map-side partial aggregation — the cheapest dedup.
    """
    norm = content_norm_col(text)
    return (
        docs.select(F.col(id_col), F.md5(norm).alias("content_md5"))
        .groupBy("content_md5")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keeper_id"),
        )
    )


# ------------------------------------------------------- n-gram Jaccard

def ngram_jaccard_pairs(docs: DataFrame, k: int = 3, threshold: float = 0.1,
                        max_shingle_df: int = 100, text: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Candidate-pair Jaccard over distinct k-word shingles.

    Inverted-index join (shingle -> docs) rather than a cross join:
    pairs only materialize for docs sharing >=1 shingle. Shingles seen
    in more than ``max_shingle_df`` docs are dropped first — the
    standard frequency cap that keeps the pair-join near-linear on
    boilerplate-heavy corpora.

    jaccard = |A∩B| / (|A| + |B| - |A∩B|), one double division.
    """
    # The raw exploded shingle table is persisted FIRST: the df-cap
    # aggregate AND the capped-table build both read it, so the
    # scan+tokenize+shingle+explode derivation runs ONCE per corpus
    # (the old shape derived `rare` from the unpersisted explode and
    # then re-ran the whole explode to build the capped persist — two
    # full row-expanding passes over the corpus, guide §2/§6: scan
    # once). At corpus scale both persists are checkpoints to storage.
    # Footprint trade, accepted: the raw table stays cached until the
    # caller's release_persisted even though its two consumers finish
    # early; DataFrame persist is MEMORY_AND_DISK, so pressure spills
    # or LRU-evicts it (recompute on a miss) rather than OOM.
    sh = tracked_persist(
        docs.select(F.col(id_col), tokens_col(F.col(text)).alias("_toks"))
        .select(
            F.col(id_col),
            F.explode(shingle_hashes_col(F.col("_toks"), k)).alias("sh"),
        )
    )
    rare = (
        sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_shingle_df)
        .select("sh")
    )
    # The capped shingle table feeds three consumers (sizes + both join
    # sides); tracked_persist computes the cap join ONCE (AQE's
    # broadcast-join conversion defeats ReuseExchange here — measured
    # 8 full recomputes without the persist) while the release hook
    # keeps long sweeps from accumulating cache.
    sh = tracked_persist(sh.join(rare, "sh"))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))

    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                 F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_shared").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("n_shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_shared", "sz_a", "sz_b", "jaccard")
    )


# ------------------------------------------------------------------ minhash

def minhash_signature_cols(hashes: Column) -> list[Column]:
    """N_PERM universal-hash minima over a shingle-hash array.

    mh_i = min over x of (a_i * x + b_i) mod (2^31-1); all arithmetic
    stays < 2^63 so it is exact int64 in Spark and DuckDB alike.
    """
    # NB: one-arg closures, not `lambda x, a=a`: PySpark counts lambda
    # parameters to pick the higher-order-function arity.
    def perm(a: int, b: int):
        return lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(MERSENNE31)

    return [
        F.array_min(F.transform(hashes, perm(a, b))).alias(f"mh_{i}")
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]


def minhash_buckets(docs: DataFrame, k: int = 2, text: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """LSH bucket table: one row per (doc, band) with the band hash.

    Docs sharing a (band_id, band_hash) bucket are near-dup candidates
    (Jaccard s-curve threshold ~= (1/b)^(1/r) ~= 0.71 for b=4, r=4).
    At scale the bucket table shuffles on band_hash — bounded fanout,
    no cross join; candidates then verify with exact Jaccard.
    """
    # Explode the shingle hashes once, then take the 16 permutation
    # minima as grouped MIN aggregates: hash-agg with map-side partials,
    # all 16 expressions whole-stage-codegen'd. The array form
    # (16x array_min(transform(...))) evaluates interpreted lambdas —
    # ~10x slower. Docs with zero shingles drop out (explode of empty),
    # mirrored by the oracle's len(hs) >= 1 guard.
    ex = (
        docs.select(F.col(id_col), tokens_col(F.col(text)).alias("_toks"))
        .select(
            F.col(id_col),
            F.explode(shingle_hashes_col(F.col("_toks"), k)).alias("h"),
        )
    )
    sig = ex.groupBy(id_col).agg(*[
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MERSENNE31))
        .alias(f"mh_{i}")
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ])
    bands = F.array(*[
        F.struct(
            F.lit(band).alias("band_id"),
            portable_hash(F.concat_ws(
                "_", *[F.col(f"mh_{band * ROWS_PER_BAND + r}")
                       for r in range(ROWS_PER_BAND)]
            )).alias("band_hash"),
        )
        for band in range(N_BANDS)
    ])
    return (
        sig.select(F.col(id_col), F.explode(bands).alias("b"))
        .select(id_col, F.col("b.band_id").alias("band_id"),
                F.col("b.band_hash").alias("band_hash"))
    )


def minhash_candidate_pairs(docs: DataFrame, k: int = 2, text: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """Distinct candidate near-dup pairs from LSH bucket collisions."""
    # tracked_persist: both self-join sides read the signature table;
    # without it AQE's broadcast conversion re-executes the pipeline
    # per side (ReuseExchange does not apply across broadcast sides).
    b = tracked_persist(minhash_buckets(docs, k=k, text=text, id_col=id_col))
    l, r = b.alias("l"), b.alias("r")
    return (
        l.join(r, (F.col("l.band_id") == F.col("r.band_id"))
               & (F.col("l.band_hash") == F.col("r.band_hash"))
               & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
        .select(F.col(f"l.{id_col}").alias("id_a"),
                F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )


# -------------------------------------------------- connected components

def neardup_clusters(pairs: DataFrame, max_iters: int = 20,
                     jump_after: int = 3) -> DataFrame:
    """Connected components over a near-dup pair graph -> one cluster
    id (the minimum member id) per document: the step that turns pair
    lists into dedup DECISIONS (keeper = the doc whose id equals the
    cluster id; everything else in the cluster drops).

    Iterative min-label propagation: each round every node takes the
    minimum label among itself and its neighbors — one join + one
    groupBy on node, the same alternating-min shape the
    large-star/small-star algorithm scales to billions of edges; the
    driver only sees the per-round convergence COUNT, never the graph.
    Near-dup clusters are tiny by construction (boilerplate families,
    re-uploads) so this converges in 2-3 rounds; from round
    ``jump_after`` on, each round ALSO adopts its label's own label
    (pointer jumping — one extra self-join), doubling a label's reach
    per round so even a pathological 2^k-hop chain converges within
    the budget instead of silently returning one-hop-per-round
    partial labels. If the loop exhausts without a converged round the
    function raises rather than return not-yet-final labels. The
    typical-case cost is exactly the plain-propagation tier (the jump
    join never runs); the worst case is O(log diameter) jumped rounds
    (interleaved A/B at sf0.1: +0.6 s/run to jump every round, ~0 to
    jump from round 4 — which is why the jump is deferred, not
    always-on).

    ``pairs`` needs columns (id_a, id_b) with id_a < id_b, DISTINCT
    (every pair generator in this repo is, by groupBy/.distinct()
    construction; duplicates would only inflate per-round join sizes,
    never change the labels).
    """
    # pairs are persisted BEFORE the symmetrizing union: both union
    # branches reference the pair subtree, so building the edge table
    # from unpersisted pairs executed the whole upstream pair pipeline
    # (shingle explode + candidate join, or the co-supplier self-join)
    # TWICE — the two branches project differently, so ReuseExchange
    # never matches them (guide §2: remove the duplicate pass).
    pairs = tracked_persist(pairs.select("id_a", "id_b"))
    # edges are read every round AND by every round's convergence
    # count; persisting them stops the union re-executing per
    # iteration (measured ~20s -> ~3s on the sf0.1 clustering key).
    # No distinct on the union: every pair generator in this repo
    # emits DISTINCT pairs (groupBy / .distinct() by construction) and
    # the two branches (u<v vs u>v) cannot collide, so the old
    # post-union dedup was a pure extra shuffle of the edge table.
    # A caller passing duplicate pairs cannot change the min-label
    # RESULT (min over a multiset) — only the per-round join size.
    edges = tracked_persist(
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .unionByName(pairs.select(F.col("id_b").alias("u"),
                                  F.col("id_a").alias("v")))
    )
    labels = (
        edges.select("u").distinct()
        .select(F.col("u").alias("node"), F.col("u").alias("label"))
    )
    for round_no in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.v == labels.node)
            .groupBy("u").agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.u, "left")
            .select(
                "node",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("nbr_label"), F.col("label")),
                ).alias("label"),
                F.coalesce(F.col("nbr_label") < F.col("label"), F.lit(False))
                .alias("_changed"),
            )
        )
        if round_no >= jump_after:
            # pointer jumping: label <- min(label, label(label)).
            # Labels are themselves node ids and only ever decrease, so
            # the lookup is a self-join; this doubles a label's reach
            # per round instead of advancing one hop.
            parent = new_labels.select(F.col("node").alias("p_node"),
                                       F.col("label").alias("p_label"))
            new_labels = (
                new_labels.join(parent,
                                new_labels.label == parent.p_node, "left")
                .select(
                    "node",
                    F.least(
                        F.col("label"),
                        F.coalesce(F.col("p_label"), F.col("label")),
                    ).alias("label"),
                    (F.col("_changed")
                     | F.coalesce(F.col("p_label") < F.col("label"),
                                  F.lit(False))).alias("_changed"),
                )
            )
        # truncate lineage each round (labels otherwise stack joins
        # per iteration) and materialize once for BOTH the convergence
        # probe and the next round. The isEmpty() below is a second
        # (cheap: reads local checkpoint blocks) job per round; folding
        # the changed-flag into the checkpoint job via an accumulator
        # would halve the job count — kept as-is because accumulator
        # values are only exact on the FIRST computation of each
        # partition, and a re-executed stage would double-count into
        # the convergence flag. isEmpty() plans a top-level limit
        # (CollectLimit, no codegen). A nested limit such as
        # filter().limit(1).count() would name its generated counter
        # from a process-global id, so every round would compile a
        # class that no codegen cache can hit.
        from .plancapture import capture_plan
        new_labels = capture_plan(
            "connected_components:loop_body",
            new_labels).localCheckpoint(eager=True)
        converged = new_labels.filter(F.col("_changed")).isEmpty()
        labels = new_labels.select("node", "label")
        if converged:
            break
    else:
        raise RuntimeError(
            f"neardup_clusters did not converge in {max_iters} rounds "
            f"(component diameter > ~{jump_after} * "
            f"2**{max_iters - jump_after}); "
            "raising instead of returning unconverged labels"
        )
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).cast("int").alias("is_keeper"),
    )


# ------------------------------------------------------------------ simhash

def simhash_df(docs: DataFrame, text: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """32-bit SimHash per doc + 4 x 8-bit chunks for banded search.

    Classic Charikar construction: per token, tf-weighted ±1 vote on
    each bit of the token hash; sign of the per-bit sum sets the output
    bit. Expressed as one explode + one groupBy with 32 conditional
    sums — partial aggregation map-side, single shuffle on doc_id.
    Equal chunks between two docs guarantee hamming distance <= 3
    (pigeonhole), so chunk-equality joins find near-dups w/o O(n^2).
    """
    tok = (
        docs.select(F.col(id_col), F.explode(tokens_col(F.col(text))).alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("h", portable_hash(F.col("tok")))
    )
    bit_sums = [
        F.sum(
            F.col("tf") * (F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"s_{j}")
        for j in range(SIMHASH_BITS)
    ]
    per_doc = tok.groupBy(id_col).agg(*bit_sums)
    simhash = None
    for j in range(SIMHASH_BITS):
        bit = F.when(F.col(f"s_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        simhash = bit if simhash is None else simhash + bit
    out = per_doc.select(F.col(id_col), simhash.cast("long").alias("simhash"))
    chunk_w = SIMHASH_BITS // SIMHASH_CHUNKS
    for c in range(SIMHASH_CHUNKS):
        out = out.withColumn(
            f"chunk_{c}",
            F.shiftright(F.col("simhash"), c * chunk_w)
            .bitwiseAND(F.lit((1 << chunk_w) - 1)),
        )
    return out


def simhash_pairs(docs: DataFrame, max_hamming: int = 3, text: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Near-dup pairs by banded SimHash: candidates share >=1 chunk,
    then exact hamming distance (bit_count of XOR) filters."""
    # tracked_persist: same reasoning as minhash_candidate_pairs
    sh = tracked_persist(simhash_df(docs, text=text, id_col=id_col))
    chunks = F.array(*[
        F.struct(F.lit(c).alias("chunk_id"), F.col(f"chunk_{c}").alias("chunk_val"))
        for c in range(SIMHASH_CHUNKS)
    ])
    b = sh.select(F.col(id_col), F.col("simhash"), F.explode(chunks).alias("c")) \
          .select(id_col, "simhash", F.col("c.chunk_id").alias("chunk_id"),
                  F.col("c.chunk_val").alias("chunk_val"))
    l, r = b.alias("l"), b.alias("r")
    return (
        l.join(r, (F.col("l.chunk_id") == F.col("r.chunk_id"))
               & (F.col("l.chunk_val") == F.col("r.chunk_val"))
               & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
        .select(F.col(f"l.{id_col}").alias("id_a"),
                F.col(f"r.{id_col}").alias("id_b"),
                F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash")))
                .alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
