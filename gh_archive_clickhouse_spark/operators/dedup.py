"""Deduplication operators: exact, ReplacingMergeTree-style, MinHash-LSH,
SimHash.

The reference delegates dedup to ClickHouse's ReplacingMergeTree
(/root/reference/README.md:14: rows with equal sorting key collapse at
merge time) and additionally dedups in-flight against a seen-id frontier
(cmd/gh-archived/main.go:152-162). Here both become engine-defined
operators; the fuzzy variants (MinHash/SimHash) are the LLM-pipeline
extensions, built shuffle-lean for 100 TB:

- Signatures are computed by **explode + whole-stage-codegen hash
  aggregation** (higher-order lambdas are CodegenFallback/interpreted
  in Spark): shingle rows are hashed in a codegen projection and
  collapsed map-side, so the shuffle carries one signature row per doc
  — n_docs rows at any corpus size, never n_shingles.
- Candidate generation is **banded LSH**: only docs sharing a band
  bucket ever meet in a join, so the O(n²) pair space never
  materializes; the bucket join shuffles on (band, band_hash), which is
  uniformly distributed by construction (shingle-less docs excluded —
  see lsh_candidate_pairs).
- Wide or looped expressions are built as **SQL text**, one
  ``F.expr``/``selectExpr`` parse per projection: the MinHash
  aggregate, the shingle projections, the band fold, the LSH join
  conditions and selects, SimHash's packed counters. Under PySpark
  4.1 every ``F.*`` call and ``Column.alias`` captures its Python call
  site (``_with_origin``), which costs about 13 py4j round-trips per
  call; a 16-way MinHash aggregate built Column by Column took ~1,900
  round-trips (0.2-0.4 s of driver time with no job running, paid
  again on every micro-batch of a streaming sink). A parsed string is
  3 round-trips. Hash formulas are never inlined here: they come from
  functions/hashing.py's ``*_sql`` builders.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gh_archive_clickhouse_spark.functions.hashing import (
    MERSENNE31,
    md5_long,
    word_hash31_sql,
)
from gh_archive_clickhouse_spark.functions.text import tokens, word_shingles
from gh_archive_clickhouse_spark.operators._util import ensure_parallelism


def latest_by_key(
    df: DataFrame, keys: list[str], order: list[Column]
) -> DataFrame:
    """ReplacingMergeTree read semantics: one row per key, last wins.

    ``order`` must be a deterministic total order (include tie-breaker
    columns) so results are stable across engines and retries — the
    analog of ClickHouse keeping the last-inserted row for equal
    sorting keys, pinned to a deterministic rule (SURVEY.md §7 risk
    register).
    """
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def latest_by_key_agg(
    df: DataFrame,
    keys: list[str],
    order_cols: list[str],
    payload_cols: list[str],
) -> DataFrame:
    """ReplacingMergeTree read semantics as a hash AGGREGATE:
    ``max_by(struct(payload), struct(order_cols))`` per key.

    Same result as :func:`latest_by_key` with all-descending order, but
    the physical plan aggregates with map-side PARTIAL aggregation —
    shuffle volume is one candidate row per key per task, where the
    window form ships EVERY duplicate row to its key's partition. The
    operator is a SortAggregate, not a hash aggregate: ``max_by``'s
    struct buffer is non-mutable, so Spark falls back to sorting
    grouped rows within each task (observed in the r15 plan audit —
    the win over the window form is the shuffle-volume reduction, not
    sort avoidance; no single-pass hash-aggregable form exists for an
    argmax carrying a struct payload, and a multi-pass rewrite buys
    the hash aggregate back only by paying extra joins). At 100 TB
    (duplicate-heavy raw events) this is still the right shape; use
    the window form only when every input column must survive
    untouched.

    ``order_cols`` must form a total order over duplicates (include
    tie-breaker columns) for a deterministic winner.
    """
    winner = F.max_by(
        F.struct(*[F.col(c) for c in payload_cols]),
        F.struct(*[F.col(c) for c in order_cols]),
    ).alias("__w")
    return (
        df.groupBy(*[F.col(k) for k in keys])
        .agg(winner)
        .select(*keys, *[F.col(f"__w.{c}").alias(c) for c in payload_cols])
    )


def dedup_exact_text(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact content dedup via sha2-256 content hash.

    Keeps the lowest id per hash (deterministic representative). The
    groupBy shuffles on the 256-bit hash — perfectly uniform keys, no
    skew, and map-side partial aggregation keeps shuffle volume at
    one row per distinct hash per task.
    """
    hashed = df.withColumn("text_sha", F.sha2(F.col(text_col), 256))
    w = Window.partitionBy("text_sha").orderBy(F.col(id_col).asc())
    return (
        hashed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_k: int = 3,
    kind: str = "word",
) -> DataFrame:
    """MinHash signatures via explode + codegen hash aggregate.

    For each universal hash h_i(x) = ((2i+1)x + 12345i+17) mod 2^31-1
    over 31-bit shingle hashes, the signature element is the min over
    the document's shingle set.

    Physical shape: explode the distinct shingle set, md5-hash the
    exploded column (codegen projection — inside a ``transform`` lambda
    it would be interpreted/CodegenFallback), then one whole-stage-
    codegen hash aggregate computing all ``num_hashes`` mins. Map-side
    partial aggregation collapses each doc's shingles within its task,
    so the shuffle carries one num_hashes-long row per doc — at 100 TB
    that is n_docs rows, not n_shingles.

    Output: id_col, minhash (array<long> of length num_hashes).
    Documents with fewer than ``shingle_k`` tokens get an empty shingle
    set and a signature of p (the modulus) — they never collide.
    """
    exploded = _shingle_hash_rows(df, text_col, id_col, shingle_k, kind)
    mins = ", ".join(
        f"coalesce(min(({2 * i + 1} * __x + {12345 * i + 17}) % {MERSENNE31}), "
        f"{MERSENNE31})"
        for i in range(num_hashes)
    )
    return exploded.groupBy(id_col).agg(F.expr(f"array({mins}) AS minhash"))


def _shingle_hash_rows(
    df: DataFrame, text_col: str, id_col: str, shingle_k: int, kind: str
) -> DataFrame:
    """(id, __x): one row per shingle occurrence, 31-bit hashed.

    MinHash only needs the MIN over each hash function, and the min of
    a multiset equals the min of its set — so no distinct pass is
    needed, and BOTH paths skip building shingle ARRAYS entirely:
    explode the start offsets, then substring/slice + md5 run as
    codegen projections over the exploded rows (the array-building
    ``transform`` lambdas are CodegenFallback/interpreted and were the
    dominant cost — char: 6.5s → ~1s, word: 0.42s → 0.28s warm at
    sf0.1).

    Docs too short for one shingle keep a single NULL row
    (explode_outer), which every min() ignores — preserving the
    "empty set → signature of p" contract downstream.
    """
    def offsets(n: str) -> str:
        return (
            f"explode_outer(CASE WHEN {n} >= {shingle_k} "
            f"THEN sequence(1, {n} - {shingle_k - 1}) "
            "ELSE CAST(array() AS ARRAY<INT>) END) AS __i"
        )

    if kind == "char":
        return (
            ensure_parallelism(df)
            .selectExpr(
                id_col,
                f"{text_col} AS __txt",
                offsets(f"length({text_col})"),
            )
            .selectExpr(
                id_col,
                f"{word_hash31_sql(f'substring(__txt, __i, {shingle_k})')} AS __x",
            )
        )
    toks = ensure_parallelism(df).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__t")
    )
    # The NULL guard is load-bearing: concat_ws maps a NULL slice to ''
    # (it never returns NULL), so without it every shingle-less doc
    # would hash to word_hash31('') — one shared signature for all
    # short/empty docs instead of the sentinel, i.e. the exact
    # one-bucket skew bomb the sentinel exclusion defuses.
    shingle = f"concat_ws(' ', slice(__t, __i, {shingle_k}))"
    return toks.selectExpr(id_col, "__t", offsets("size(__t)")).selectExpr(
        id_col,
        f"CASE WHEN __i IS NOT NULL THEN {word_hash31_sql(shingle)} END AS __x",
    )


def shingle_sets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int,
    kind: str = "word",
) -> DataFrame:
    """(id, __sh): distinct k-shingles, computed in STAGED projections.
    Each stage materializes one alias so tokenization / shingling /
    hashing run once per row — a single fused expression would be
    re-evaluated per downstream use (Catalyst only CSEs within one
    projection), which turned minhash into O(tokens²).

    ``kind``: "word" (k-token shingles over whitespace tokens) or
    "char" (character k-grams) — the two classic granularities of
    n-gram Jaccard / MinHash dedup.
    """
    if kind == "char":
        from gh_archive_clickhouse_spark.functions.text import char_shingles

        return ensure_parallelism(df).select(
            F.col(id_col),
            F.array_distinct(
                char_shingles(F.col(text_col), shingle_k)
            ).alias("__sh"),
        )
    toks = ensure_parallelism(df).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__t")
    )
    return toks.select(
        F.col(id_col),
        F.array_distinct(word_shingles(F.col("__t"), shingle_k)).alias("__sh"),
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """Banded-LSH candidate pairs from minhash signatures.

    Each signature splits into ``bands`` bands of ``rows_per_band``
    values; a band collapses to one 31-bit key by a Horner fold. Docs
    meet only inside equal (band_id, band_key) buckets — the join
    shuffles on those uniform keys instead of exploding n².

    Output: doc_a < doc_b candidate pairs (distinct).

    Shingle-less docs (empty/too-short text) carry the sentinel
    signature (every element = p, a value unreachable for any real
    shingle hash) and are EXCLUDED from banding: they are not
    near-duplicates of anything, and at corpus scale every such doc
    would land in the same bucket — a quadratic skew bomb (billions of
    empty docs → one bucket → n² pairs).
    """
    banded = _banded(sigs, id_col, bands, rows_per_band)
    return (
        banded.alias("l")
        .join(banded.alias("r"), F.expr(_bucket_match(f"l.{id_col} < r.{id_col}")))
        .selectExpr(f"l.{id_col} AS doc_a", f"r.{id_col} AS doc_b")
        .distinct()
    )


def _bucket_match(*extra: str) -> str:
    """SQL join condition of two ``_banded`` sides aliased ``l`` and
    ``r``: equal (band_id, band_key), plus any ``extra`` conjuncts."""
    return " AND ".join(
        ("l.band_id = r.band_id", "l.band_key = r.band_key", *extra)
    )


def _banded(
    sigs: DataFrame, id_col: str, bands: int, rows_per_band: int
) -> DataFrame:
    """(id, band_id, band_key) rows for LSH bucketing; sentinel
    (shingle-less) signatures excluded — see lsh_candidate_pairs."""
    band_rows = []
    for b in range(bands):
        acc = "0L"
        for r in range(rows_per_band):
            acc = f"({acc} * 31 + minhash[{b * rows_per_band + r}]) % {MERSENNE31}"
        band_rows.append(f"named_struct('band_id', {b}, 'band_key', {acc})")
    return sigs.where(f"minhash[0] != {MERSENNE31}").selectExpr(
        id_col, f"inline(array({', '.join(band_rows)}))"
    )


def lsh_candidate_pairs_between(
    new_sigs: DataFrame,
    all_sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """Candidate pairs with AT LEAST ONE side in ``new_sigs`` — the
    incremental form of ``lsh_candidate_pairs`` for continuous dedup:
    per micro-batch, only new×all bucket joins run, never a full
    all×all re-pair. With ``all_sigs`` ⊇ ``new_sigs`` and each doc
    arriving exactly once, the union of per-batch outputs equals the
    batch operator's pair set: a pair is found exactly when its later
    doc arrives (both-new pairs surface within that batch because
    ``all_sigs`` already contains them).

    Output: (doc_a, doc_b) with doc_a < doc_b, distinct within the
    call. At scale the all-side is the persisted signature table,
    bucket-joined on the same uniform (band_id, band_key) keys.
    """
    n = _banded(new_sigs, id_col, bands, rows_per_band).alias("l")
    a = _banded(all_sigs, id_col, bands, rows_per_band).alias("r")
    return (
        n.join(a, F.expr(_bucket_match(f"l.{id_col} != r.{id_col}")))
        .selectExpr(
            f"least(l.{id_col}, r.{id_col}) AS doc_a",
            f"greatest(l.{id_col}, r.{id_col}) AS doc_b",
        )
        .distinct()
    )


def cross_split_candidates(
    sigs_a: DataFrame,
    sigs_b: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """Banded-LSH candidates BETWEEN two disjoint doc sets, keeping
    sides — the eval-leakage detection primitive: after a train/val/
    test split (qx49), any train doc that near-dups a held-out doc
    leaks the benchmark into training. Unlike
    :func:`lsh_candidate_pairs_between` (which canonicalizes the pair
    as (lo, hi) for set semantics), the output preserves WHICH side
    each id came from — (id_a from ``sigs_a``, id_b from ``sigs_b``)
    — because the remediation is one-sided: drop the TRAIN member.

    Scale: the same uniform (band_id, band_key) bucket join as every
    LSH pass, but only a×b buckets are ever joined — the train×train
    pair space (the overwhelming bulk of a 98/1/1 split) is never
    generated. Returns distinct (id_a, id_b).
    """
    a = _banded(sigs_a, id_col, bands, rows_per_band).alias("l")
    b = _banded(sigs_b, id_col, bands, rows_per_band).alias("r")
    return (
        a.join(b, F.expr(_bucket_match()))
        .selectExpr(f"l.{id_col} AS id_a", f"r.{id_col} AS id_b")
        .distinct()
    )


def simhash_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    bands: int = 4,
    band_bits: int = 15,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-duplicate pairs: banded buckets + Hamming verify.

    Pigeonhole blocking: two fingerprints within ``max_hamming < bands``
    bits of each other must agree exactly on at least one of the
    ``bands`` disjoint ``band_bits``-bit slices, so candidate
    generation is an equi-join on (band_id, slice) — the n² pair space
    never materializes, and the join keys are uniform md5-derived bits
    (no skew). The exact Hamming distance (``bit_count(a XOR b)``)
    then filters candidates; both steps are codegen'd JVM expressions.

    Output: (doc_a, doc_b, hamming) with doc_a < doc_b, distinct.

    Fingerprint 0 is the degenerate/sentinel value (every empty doc
    hashes to it — explode_outer's NULL row zeroes all votes) and is
    EXCLUDED from banding, mirroring lsh_candidate_pairs' sentinel
    exclusion: empty docs are exact duplicates (exact dedup's job, not
    near-dup detection's), and at corpus scale billions of them would
    meet in one bucket — a quadratic skew bomb.
    """
    sigs = sigs.filter(F.col(sig_col) != 0)
    mask = (1 << band_bits) - 1
    banded = sigs.select(
        F.col(id_col),
        F.col(sig_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftright(F.col(sig_col), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, sig_col, "band.band_id", "band.band_key")
    left = banded.alias("l")
    right = banded.alias("r")
    # Hamming filter BEFORE the pair-dedup distinct: a pair can meet in
    # up to ``bands`` buckets, and deduping only the pairs that pass
    # the (selective) distance test keeps the distinct's shuffle at
    # true-near-dup volume instead of candidate volume.
    return (
        left.join(
            right,
            on=[
                F.col("l.band_id") == F.col("r.band_id"),
                F.col("l.band_key") == F.col("r.band_key"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("doc_a"),
            F.col(f"r.{id_col}").alias("doc_b"),
            F.bit_count(
                F.col(f"l.{sig_col}").bitwiseXOR(F.col(f"r.{sig_col}"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 60,
) -> DataFrame:
    """60-bit SimHash over the distinct-word set.

    Classic sign-of-sums: bit b of the fingerprint is 1 iff the sum of
    (±1 per word, + when word-hash bit b is set) is positive.

    Physical shape: explode the per-doc word-hash array, then ONE
    whole-stage-codegen hash aggregate with 60 conditional sums.
    Higher-order lambdas (the obvious row-local form) are interpreted,
    CodegenFallback expressions in Spark — 60 aggregate passes per row
    ran ~4x slower than this exploded form. The groupBy shuffles just
    one 60-counter row per doc (map-side partial aggregation collapses
    each doc's words inside its task), so at 100 TB the shuffle volume
    is n_docs rows, not n_words.

    60 bits (not 64) because the portable md5-derived hash yields 60
    clean bits without signed-overflow edge cases.
    """
    from gh_archive_clickhouse_spark.functions.hashing import md5_long

    words = F.array_distinct(tokens(F.col(text_col)))
    # Explode words FIRST, hash after: md5 then runs as a codegen
    # projection over the exploded rows instead of inside an
    # interpreted ``transform`` lambda. explode_outer keeps empty docs
    # (their votes are all 0 → fingerprint 0).
    exploded = (
        ensure_parallelism(df)
        .select(F.col(id_col), F.explode_outer(words).alias("__w"))
        .select(F.col(id_col), md5_long("__w").alias("__h"))
    )
    # Votes as set-bit counts: vote_b = 2*c_b - W where c_b = #words
    # with bit b set and W = #words, so bit b of the fingerprint is
    # 2*c_b > W. The bare sum(bit) aggregates generate ~3x less codegen
    # than per-bit ±1 CASE chains (measured: 3.5s -> 1.0s cold at
    # sf0.1).
    #
    # The 60 per-bit counters are PACKED two to a long (32-bit lanes):
    # a map-side projection builds p_g = bit_{2g} + bit_{2g+1}<<32 per
    # word, and the aggregate is 31 bare sums instead of 61 — the
    # aggregate loop and its codegen shrink ~3.5x (measured 1.75s ->
    # 0.55s steady-state at sf0.1). Lane math is exact while a doc has
    # < 2^31 distinct tokens (a physically impossible document), so no
    # lane can carry into its neighbor. Empty docs: the explode_outer
    # NULL row makes every packed term NULL -> sums NULL -> every
    # when() false -> fingerprint 0, matching the ±1 formulation.
    # Wide expressions are SQL text (see the module docstring).
    per_long, lane_bits = 2, 32
    ngroups = (bits + per_long - 1) // per_long
    packs = []
    for g in range(ngroups):
        terms = [
            f"(shiftleft(shiftright(__h, {b}) & 1, {j * lane_bits}))"
            for j in range(per_long)
            if (b := g * per_long + j) < bits
        ]
        packs.append(F.expr(" + ".join(terms)).alias(f"__p{g}"))
    votes = exploded.select(F.col(id_col), *packs).groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__W"),
        *[F.expr(f"sum(__p{g})").alias(f"__s{g}") for g in range(ngroups)],
    )
    lane_mask = (1 << lane_bits) - 1
    fp_terms = []
    for b in range(bits):
        g, j = b // per_long, b % per_long
        c_b = f"(shiftright(__s{g}, {j * lane_bits}) & {lane_mask})"
        fp_terms.append(
            f"(CASE WHEN 2 * {c_b} > __W THEN {1 << b}L ELSE 0L END)"
        )
    fingerprint = F.expr(" + ".join(fp_terms))
    return votes.select(F.col(id_col), fingerprint.alias("simhash"))


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 20,
) -> DataFrame:
    """Duplicate-CLUSTER construction over near-dup pairs: connected
    components by min-label propagation WITH pointer jumping — the step
    between pair detection (LSH/SimHash) and canonical-document
    election that every dedup pipeline needs (pairs (a,b),(b,c) must
    collapse to ONE surviving doc, not two independent drops).

    Algorithm: every node starts labeled with itself; each round
    FUSES (1) PROPAGATE — take the min label over self and neighbors
    — with (2) POINTER-JUMP THROUGH THE ROUND'S INPUT TABLE —
    replace the propagated value m with labels_prev(m) (every label
    value is the id of a node present in the table, so the lookup is
    a 1:1 equi-join) — into ONE materialized plan per round (r15,
    guide §2.4): two joins + one aggregate + one lineage barrier per
    round, where the unfused propagate/probe/jump form paid four
    joins and two barriers. Jumping through the round's INPUT labels
    (not the freshly-propagated table) is what makes the fusion a
    single plan with no mid-round barrier; the composition still
    applies the label function twice along every path per round, so
    the covered distance doubles per round and convergence stays
    O(log diameter) — ``max_iters=20`` covers diameters up to ~2^20,
    far beyond any near-dup graph (the 41-node-chain test pins ≤10
    rounds). Both steps only ever DECREASE labels (label(v) <= v for
    all v) and labels_prev(m) <= m, so "a full round changed
    nothing" certifies a propagation fixed point — if any neighbor
    min were below a node's label the fused update would have
    decreased it — i.e. labels uniform per component.

    Per round: one edge⋈labels join + aggregate (O(|E|) shuffle) and
    one labels⋈labels jump join (O(|V|)) — except ROUND 0, which is
    JOIN-FREE: against the identity labeling the fused update
    collapses to least(src, min(dst)) over the symmetrized edges, one
    aggregate whose groupBy also subsumes the node-set distinct, so
    the separate init-label table (its shuffle and its barrier) does
    not exist at all; the convergence probe is a
    SHUFFLE-FREE scan of the round's materialized output (a __chg
    flag computed inline, filter + limit(1)), not a join against the
    previous table. Lineage is truncated per round via
    ``plans.common.materialize`` (localCheckpoint by default; a
    written table per round under SPARK_GRAFT_MATERIALIZE_DIR for
    clusters where executor loss is routine) so plans stay flat —
    the GraphFrames/GraphX CC shape without the dependency.

    Raises ``RuntimeError`` if the loop exhausts ``max_iters`` without
    a certified fixed point AND a final O(|E|) post-condition check
    (any edge whose endpoints carry different labels?) finds the
    labeling still split — silent partial clusters (one true component
    reported as several reps) are a correctness hazard, never an
    acceptable return value.

    Deterministic (min over ints), so oracle-checkable against a
    recursive-CTE transitive closure. Returns (node, cluster_rep) for
    every node that appears in a pair; cluster_rep = min doc_id of the
    component — the canonical survivor under keep-smallest-id policy.
    """
    from gh_archive_clickhouse_spark.plans.common import materialize

    if max_iters < 1:
        raise ValueError("max_iters must be >= 1")
    # Symmetrize via a row-local explode, NOT fwd.union(swap(fwd)):
    # the union's two branches each re-execute the whole pair lineage
    # (Spark plans them independently — no ReusedExchange fires, so an
    # LSH candidate+verify pipeline upstream ran TWICE per edge
    # build). One scan emits both directions per pair row.
    edges = materialize(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(a_col).alias("src"),
                        F.col(b_col).alias("dst"),
                    ),
                    F.struct(
                        F.col(b_col).alias("src"),
                        F.col(a_col).alias("dst"),
                    ),
                )
            ).alias("__e")
        ).select("__e.src", "__e.dst"),
        "cc_edges",
    )
    labels = None
    converged = False
    for _i in range(max_iters):
        if _i == 0:
            # Round 0 against the IDENTITY labeling needs no label
            # table and no joins at all: with label(v) = v, the
            # neighbor-label lookup is dst itself and the pointer
            # jump is the identity, so the fused update collapses to
            # least(src, min(dst)) — one aggregate over the
            # symmetrized edges. The groupBy also subsumes the old
            # ``cc_labels_init`` distinct (every node appears as src
            # exactly because the edge table is symmetrized), so the
            # init table's shuffle + barrier disappear with it.
            new_labels = materialize(
                edges.groupBy(F.col("src").alias("node"))
                .agg(F.min("dst").alias("nlabel"))
                .select(
                    "node",
                    F.least(F.col("node"), F.col("nlabel")).alias("label"),
                    (F.col("nlabel") < F.col("node")).alias("__chg"),
                ),
                f"cc_labels_{_i}",
            )
            labels = new_labels.select("node", "label")
            continue
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("node").alias("dst"), F.col("label").alias("dlabel")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dlabel").alias("nlabel"))
        )
        # Fused propagate + jump (see docstring): m = min(label,
        # neighbor min) is computed INLINE, then jumped through the
        # round's input table in the same plan. Every label value is
        # a node id present in the label table (initialization + the
        # update rule preserve it: the new label is itself one of the
        # table's label values), so the jump lookup matches exactly
        # one row; the left-join + coalesce is belt-and-braces. The
        # __chg flag rides in the materialized output so the
        # convergence probe below is a shuffle-free scan, not a join.
        prop = labels.join(
            nbr_min.select(F.col("src").alias("node"), "nlabel"),
            "node",
            "left",
        ).select(
            "node",
            F.col("label").alias("__old"),
            F.least(F.col("label"), F.coalesce("nlabel", "label")).alias(
                "__m"
            ),
        )
        jump = labels.select(
            F.col("node").alias("__m"), F.col("label").alias("__jl")
        )
        new_labels = materialize(
            prop.join(jump, "__m", "left").select(
                "node",
                F.coalesce("__jl", "__m").alias("label"),
                (F.coalesce("__jl", "__m") != F.col("__old")).alias(
                    "__chg"
                ),
            ),
            f"cc_labels_{_i}",
        )
        # Probe the materialized round output (starts at round 1 —
        # round 0 always changes something when any edge exists): no
        # row changed certifies a propagation fixed point (any
        # neighbor min below a node's label would have decreased it).
        changed = new_labels.filter(F.col("__chg")).limit(1).count()
        if changed == 0:
            labels = new_labels.select("node", "label")
            converged = True
            break
        labels = new_labels.select("node", "label")
    if not converged:
        # Loop exhausted without a certified fixed point (or max_iters
        # was too small for the probe to ever run). Post-condition: at
        # a true fixed point every edge's endpoints share a label.
        split = (
            edges.join(
                labels.select(
                    F.col("node").alias("src"), F.col("label").alias("slabel")
                ),
                "src",
            )
            .join(
                labels.select(
                    F.col("node").alias("dst"), F.col("label").alias("dlabel")
                ),
                "dst",
            )
            .filter(F.col("slabel") != F.col("dlabel"))
            .limit(1)
            .count()
        )
        if split:
            raise RuntimeError(
                "connected_components did not converge within "
                f"max_iters={max_iters}: at least one component is "
                "still split across labels; raise max_iters"
            )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_rep")
    )


def passage_dup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 16,
) -> DataFrame:
    """Passage-level (chunk) duplication profile per document.

    Documents are cut into consecutive ``chunk_tokens``-token passages
    (the tail keeps its short remainder); a passage is a DUPLICATE if
    the identical token run appeared at an earlier (id, chunk_idx)
    anywhere in the corpus. This is the sub-document granularity that
    catches boilerplate (headers, navbars, license blocks) that
    document-level dedup misses entirely.

    Physical shape: stage tokens -> slice into chunks -> posexplode ->
    md5-derived chunk hash (codegen projection). First-occurrence
    election is a min-struct WINDOW over the 60-bit chunk hash —
    uniform keys, no skew — then one groupBy(id) rolls the per-doc
    duplicate fraction. Shuffle volume: one row per chunk, twice —
    linear in corpus tokens, never quadratic (no chunk-vs-chunk join).

    Output: (id_col, n_chunks, n_dup_chunks, dup_frac). Token-less
    documents produce no row (they have no passages).
    """
    staged = ensure_parallelism(df).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__t")
    )
    ct = F.lit(chunk_tokens)
    chunks = (
        staged.filter(F.size("__t") >= 1)
        .select(
            F.col(id_col),
            F.posexplode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.ceil(F.size("__t") / ct.cast("double")).cast(
                            "int"
                        )
                        - 1,
                    ),
                    lambda i: F.concat_ws(
                        " ", F.slice(F.col("__t"), i * ct + 1, ct)
                    ),
                )
            ).alias("chunk_idx", "__chunk"),
        )
        .select(
            F.col(id_col),
            "chunk_idx",
            md5_long(F.col("__chunk")).alias("__h"),
        )
    )
    w = Window.partitionBy("__h")
    flagged = chunks.select(
        F.col(id_col),
        (
            F.struct(F.col(id_col), F.col("chunk_idx"))
            != F.min(F.struct(F.col(id_col), F.col("chunk_idx"))).over(w)
        ).alias("__is_dup"),
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.col("__is_dup").cast("long")).alias("n_dup_chunks"),
        # UNROUNDED integer ratio (dec_avg class): a doc with 2^a·5^b
        # chunks can land the true fraction exactly on the round-6
        # half-boundary; the raw quotient is bit-deterministic.
        (
            F.sum(F.col("__is_dup").cast("long"))
            / F.count(F.lit(1)).cast("double")
        ).alias("dup_frac"),
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    max_df: int = 50,
    threshold: float = 0.6,
) -> DataFrame:
    """Containment near-dup pairs: |A∩B| / min(|A|,|B|) over word
    k-shingle sets — the ASYMMETRIC overlap measure that catches
    subset copies (a doc embedded whole inside a larger one), which
    Jaccard dilutes below any usable threshold.

    Physical shape: inverted index (explode distinct shingle hashes),
    DROP shingles with document frequency > ``max_df`` (the standard
    stop-shingle guard — a boilerplate shingle shared by millions of
    docs would otherwise create a df² hot bucket; dropping it loses
    only pairs whose entire overlap is non-discriminative text), then
    a self-equi-join on the surviving shingle hashes, a pair-count
    aggregate, and a broadcast-size join. Candidate volume is
    Σ df(s)² over KEPT shingles — bounded by max_df · corpus shingles,
    i.e. linear in the corpus with a constant the operator controls.

    Sizes in the denominator are the FILTERED set sizes (both engines
    must agree on the universe; using unfiltered sizes would make the
    metric depend on dropped non-evidence). Output:
    (doc_a, doc_b, shared, containment) with doc_a < doc_b.
    """
    from gh_archive_clickhouse_spark.plans.common import materialize

    # Codegen explode path (same as minhash — the HOF shingle builder
    # is CodegenFallback and ~2x slower): hash every shingle INSTANCE
    # in a codegen projection, then distinct on (id, hash). The
    # distinct runs after hashing, so the oracle must also distinct
    # post-hash (collision semantics stay engine-identical).
    inv = (
        _shingle_hash_rows(df, text_col, id_col, shingle_k, "word")
        .filter(F.col("__x").isNotNull())
        .select(F.col(id_col), F.col("__x").alias("__sh31"))
        .distinct()
    )
    # The filtered inverted index feeds FOUR consumers (both self-join
    # sides + both per-doc size lookups); un-materialized, Spark would
    # re-run the shingle/hash/df pipeline for each — materialize makes
    # it compute once (localCheckpoint locally, a written index table
    # under SPARK_GRAFT_MATERIALIZE_DIR on clusters).
    kept = materialize(
        inv.join(
            inv.groupBy("__sh31")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("__sh31"),
            "__sh31",
        ),
        "containment_kept_index",
    )
    sizes = kept.groupBy(id_col).agg(F.count(F.lit(1)).alias("__sz"))
    left = kept.alias("l")
    right = kept.alias("r")
    shared = (
        left.join(
            right,
            on=[
                F.col("l.__sh31") == F.col("r.__sh31"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .groupBy(
            F.col(f"l.{id_col}").alias("doc_a"),
            F.col(f"r.{id_col}").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.join(
            sizes.select(
                F.col(id_col).alias("doc_a"), F.col("__sz").alias("__sza")
            ),
            "doc_a",
        )
        .join(
            sizes.select(
                F.col(id_col).alias("doc_b"), F.col("__sz").alias("__szb")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "shared",
            # UNROUNDED integer ratio (dec_avg class) — both the
            # emitted value and the threshold filter below see the
            # bit-deterministic raw quotient, so borderline pairs
            # are included identically in every engine.
            (
                F.col("shared")
                / F.least("__sza", "__szb").cast("double")
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def long_gram_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram: int = 20,
    max_df: int = 50,
    min_shared: int = 1,
) -> DataFrame:
    """ExactSubstr-style VERBATIM-SPAN detector: pairs of documents
    sharing at least ``min_shared`` sliding ``gram``-token windows.

    A copied span of L >= gram tokens contributes L - gram + 1 shared
    windows NO MATTER where it sits — this is what the fixed-boundary
    passage profile (``passage_dup_stats``) structurally misses (a
    span straddling a chunk boundary matches no chunk) and what
    3-shingle containment can only infer statistically. With gram=20,
    a shared window is ~20 tokens of verbatim text: essentially zero
    false-positive rate on natural language, the regime of the
    "deduplicate training data" exact-substring pass.

    Physical shape == containment_pairs: codegen sliding-window hash
    explode, distinct-after-hash, stop-gram df cap (> ``max_df``
    dropped — same hot-key defusal), materialized inverted index,
    self-equi-join + pair-count aggregate. Candidate volume bounded by
    max_df x kept windows — linear in the corpus.

    Output: (doc_a, doc_b, shared_grams) with doc_a < doc_b; an
    upper-bound span estimate is shared_grams + gram - 1 tokens when
    the overlap is one contiguous run.
    """
    from gh_archive_clickhouse_spark.plans.common import materialize

    inv = (
        _shingle_hash_rows(df, text_col, id_col, gram, "word")
        .filter(F.col("__x").isNotNull())
        .select(F.col(id_col), F.col("__x").alias("__gh"))
        .distinct()
    )
    kept = materialize(
        inv.join(
            inv.groupBy("__gh")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("__gh"),
            "__gh",
        ),
        "longgram_kept_index",
    )
    left = kept.alias("l")
    right = kept.alias("r")
    return (
        left.join(
            right,
            on=[
                F.col("l.__gh") == F.col("r.__gh"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .groupBy(
            F.col(f"l.{id_col}").alias("doc_a"),
            F.col(f"r.{id_col}").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_grams"))
        .filter(F.col("shared_grams") >= min_shared)
    )


def shingle_jaccard(a_col: str = "sha_", b_col: str = "shb_") -> Column:
    """Exact Jaccard of two distinct-shingle array columns as the
    raw IEEE quotient, 0.0 on an empty union — THE verification
    formula every LSH pipeline (and the recall probe measuring it)
    must share, so the convention lives in exactly one place that the
    oracles mirror.

    Deliberately UNROUNDED (r15, the final rounding-class landing):
    shingle-union denominators (640, 3200, ...) produce regime-(a)
    half-boundary rationals (2j+1)/(2^7*5^t) where a 6-dp round makes
    Spark's HALF_UP and DuckDB's float-path rounding diverge by an
    ULP — the class that flipped qe4/qx56. int/int double quotients
    are bit-deterministic in both engines (both operands exact in
    double well past any shingle-set cardinality), so no
    re-synchronizing round is needed or safe here.
    """
    ninter = F.size(F.array_intersect(a_col, b_col))
    nunion = F.size(a_col) + F.size(b_col) - ninter
    return F.when(
        nunion > 0, ninter.cast("double") / nunion
    ).otherwise(F.lit(0.0))


def verify_candidates(
    docs: DataFrame,
    pairs: DataFrame,
    shingle_k: int = 3,
    kind: str = "word",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """The exact-Jaccard verify step of every MinHash-LSH pass:
    (a_col, b_col, jaccard) for each candidate pair in ``pairs``, over
    the distinct ``kind`` ``shingle_k``-shingles of ``docs``' (doc_id,
    text).

    Shingle sets are built ONLY for candidate docs: at corpus scale
    the candidates are a vanishing fraction, so the expensive array
    materialization never touches the rest. The candidate ids come
    from a row-local explode, not a union of two projections: the
    union's branches would each re-execute the banded self-join (no
    ReusedExchange fires across them). The semi-join is UNHINTED (the
    qe14 rule): the candidate-id set scales with the corpus's near-dup
    count, a vanishing fraction but not a bounded size, so a forced
    broadcast OOMs the executors exactly when the corpus is dirty
    enough for dedup to matter; AQE broadcasts it only while its
    runtime size is under the threshold.
    """
    cand_ids = pairs.selectExpr(
        f"explode(array({a_col}, {b_col})) AS doc_id"
    ).distinct()
    sh = shingle_sets(
        docs.join(cand_ids, "doc_id", "left_semi"),
        "text",
        "doc_id",
        shingle_k,
        kind,
    )
    a = sh.selectExpr(f"doc_id AS {a_col}", "__sh AS sha_")
    b = sh.selectExpr(f"doc_id AS {b_col}", "__sh AS shb_")
    return (
        pairs.join(a, a_col)
        .join(b, b_col)
        .select(a_col, b_col, shingle_jaccard().alias("jaccard"))
    )


def dedup_survivors(
    corpus: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """The canonical-corpus CUT shared by every fuzzy-dedup end
    product (qx31, qx32, the qx42 composite): connected components
    over the near-dup pairs, drop every cluster member except the
    min-id representative, keep all never-paired rows — one left-anti
    equi-join on uniform ids, join strategy left to AQE (the drop
    side can be a large corpus fraction; no broadcast hint).

    Survivor policy (keep-smallest-id) lives HERE, once.
    """
    cc = connected_components(pairs, a_col=a_col, b_col=b_col)
    drops = cc.filter(F.col("doc_id") != F.col("cluster_rep")).select(
        F.col("doc_id").alias(id_col)
    )
    return corpus.join(drops, id_col, "left_anti")


def dedup_survivors_by(
    corpus: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Quality-aware canonical cut: keep the BEST-``score_col`` member
    of each duplicate cluster (ties → lowest id) instead of
    :func:`dedup_survivors`' min-id member — the policy production
    curation actually wants, since near-dup clusters routinely mix a
    clean original with mangled copies and min-id keeps whichever
    happened to be crawled first.

    Same scale shape as the min-id cut plus one tiny aggregate:
    CC labels (O(log diameter) rounds) → join members to their scores
    (uniform id equi-join) → per-cluster deterministic argmax via
    ``max_by(id, struct(score, -id))`` (map-side-combinable, one row
    per cluster) → anti-join the losers out. Never-paired rows
    survive untouched. ``corpus`` must carry ``score_col``; ties on
    the score break toward the LOWEST id so the cut is reproducible
    across engines.
    """
    cc = connected_components(pairs, a_col=a_col, b_col=b_col)
    members = cc.join(
        corpus.select(
            F.col(id_col).alias("doc_id"), F.col(score_col).alias("__s")
        ),
        "doc_id",
    )
    best = members.groupBy("cluster_rep").agg(
        F.max_by(
            F.col("doc_id"), F.struct(F.col("__s"), -F.col("doc_id"))
        ).alias("__keep")
    )
    drops = (
        members.join(best, "cluster_rep")
        .filter(F.col("doc_id") != F.col("__keep"))
        .select(F.col("doc_id").alias(id_col))
    )
    return corpus.join(drops, id_col, "left_anti")
