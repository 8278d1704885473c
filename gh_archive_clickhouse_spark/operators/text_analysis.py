"""Text analysis: language ID, quality scoring, token stats,
document fingerprinting.

All map-only Catalyst plans (split/transform/aggregate built-ins): at
100 TB these run as a single scan stage with no shuffle; the only
shuffles are the final small aggregations (per-language histograms).
Hashes are the engine-portable md5-derived family (functions/hashing)
so every result is reproducible by an external SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gh_archive_clickhouse_spark.functions.hashing import MERSENNE31, word_hash31
from gh_archive_clickhouse_spark.functions.text import (
    LANG_MARKERS,
    STOPWORDS,
    tokens,
    word_shingles,
)


def language_id(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Heuristic language ID: count function-word markers per language
    over the distinct-token set; argmax with (score desc, lang asc)
    tie-break; 'und' (undetermined) when no marker hits at all.

    Output: id_col, pred_lang, score.
    """
    toks = F.array_distinct(tokens(F.col(text_col)))
    scored = df.withColumn("__toks", toks)
    lang_structs = []
    for lang in sorted(LANG_MARKERS):
        markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
        score = F.size(F.array_intersect(F.col("__toks"), markers))
        lang_structs.append(
            F.struct(score.alias("score"), F.lit(lang).alias("lang"))
        )
    # Deterministic argmax via explicit fold: score desc, lang asc tie.
    arr = F.array(*lang_structs)
    best = F.aggregate(
        arr,
        F.struct(
            F.lit(-1).alias("score"), F.lit("zzz").alias("lang")
        ),
        lambda acc, s: F.when(
            (s["score"] > acc["score"])
            | ((s["score"] == acc["score"]) & (s["lang"] < acc["lang"])),
            s,
        ).otherwise(acc),
    )
    return scored.select(
        F.col(id_col),
        F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und")).alias(
            "pred_lang"
        ),
        F.greatest(best["score"], F.lit(0)).alias("score"),
    )


def quality_features(text_col: str = "text") -> dict:
    """Ordered ``name -> Column`` map of :func:`quality_score`'s
    feature and score expressions — exposed so a streaming gate can
    stamp ``quality`` onto a micro-batch as a PURE PROJECTION
    (``withColumn``, map-only at the scan) instead of computing the
    feature frame and joining it back on doc_id (qs15's composed
    per-batch plan must stay map-only + broadcast). The dict IS
    quality_score's output contract: same names, same expressions.

    All five derived doubles are emitted UNROUNDED (r13): every one is
    an integer-ratio quotient (or a fixed-literal blend of them), and
    the true quotient can land exactly on a ``round(x, 6)``
    half-boundary rational — where Spark's BigDecimal HALF_UP on the
    double's binary expansion and DuckDB's float-path rounding
    disagree within an ULP. The r12 sf1 stress sweep caught exactly
    that: qx56 flipped one quality value of 47,566 (0.510313 vs
    0.510312; fixed in commit 56e2fd0). The unrounded
    values need no rounding for parity in the first place: identical
    integer inputs → identical double casts → the same IEEE division/
    multiply-add DAG in both engines → bit-identical doubles (the
    same argument, and the same fix, as ``plans/common.dec_avg``)."""
    toks = tokens(F.col(text_col))
    n_tok = F.size(toks)
    n_chars = F.length(F.col(text_col))
    mean_tok_len = F.when(
        n_tok > 0,
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
        ).cast("double")
        / n_tok,
    ).otherwise(F.lit(0.0))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    stop_ratio = F.when(n_tok > 0, n_stop.cast("double") / n_tok).otherwise(0.0)
    n_punct = n_chars - F.length(F.regexp_replace(F.col(text_col), "[.,;:!?]", ""))
    punct_ratio = F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(0.0)
    n_alpha = n_chars - F.length(
        F.regexp_replace(F.col(text_col), "[a-zA-Z]", "")
    )
    alpha_ratio = F.when(n_chars > 0, n_alpha.cast("double") / n_chars).otherwise(0.0)
    # Fixed blend: long-enough, word-shaped, some-but-not-all stopwords.
    length_term = F.least(n_tok.cast("double") / F.lit(64.0), F.lit(1.0))
    score = (
        F.lit(0.4) * length_term
        + F.lit(0.3) * alpha_ratio
        + F.lit(0.2) * (F.lit(1.0) - F.abs(stop_ratio - F.lit(0.3)))
        + F.lit(0.1) * (F.lit(1.0) - punct_ratio)
    )
    return {
        "n_tokens": n_tok,
        "mean_token_len": mean_tok_len,
        "stopword_ratio": stop_ratio,
        "punct_ratio": punct_ratio,
        "alpha_ratio": alpha_ratio,
        "quality": score,
    }


def quality_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic quality features + a composite score.

    Features: token count, mean token length, stopword ratio,
    punctuation ratio, alpha ratio. Score is a fixed linear blend in
    [0,1] — the point is a reproducible ranking signal, not a model.
    Derived doubles are UNROUNDED: the integer-ratio inputs make the
    raw IEEE result bit-deterministic across engines, while rounding
    it was the one divergent step (see :func:`quality_features`).
    """
    feats = quality_features(text_col)
    return df.select(
        F.col(id_col), *[c.alias(n) for n, c in feats.items()]
    )


def fingerprint(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_tokens: int = 32,
    multiplier: int = 131,
) -> DataFrame:
    """Rolling polynomial fingerprint of the first N tokens.

    fp = fold(acc * 131 + h31(token)) mod 2^31-1 over the first
    ``prefix_tokens`` tokens — a cheap prefix-dup detector. All
    arithmetic stays < 2^39, no overflow on any engine.
    """
    toks = F.slice(tokens(F.col(text_col)), 1, prefix_tokens)
    hashed = F.transform(toks, lambda t: word_hash31(t))
    fp = F.aggregate(
        hashed,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * F.lit(multiplier) + h) % F.lit(MERSENNE31),
    )
    return df.select(F.col(id_col), fp.alias("fingerprint"))


def token_lang_stats(
    df: DataFrame, text_col: str = "text", lang_col: str = "lang"
) -> DataFrame:
    """Per-language corpus stats: docs, tokens, chars.

    Output: lang, n_docs, n_tokens, sum_chars, avg_tokens.
    ``avg_tokens`` is the UNROUNDED long-sum/count quotient — an
    integer ratio, i.e. the dec_avg knife-edge class (a per-language
    doc count of 2^a·5^b can put the true mean exactly on a
    round-6 half-boundary); the raw quotient is bit-deterministic.
    """
    n_tok = F.size(tokens(F.col(text_col)))
    return (
        df.select(F.col(lang_col).alias("lang"), n_tok.alias("__nt"), "n_chars")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__nt").alias("n_tokens"),
            F.sum("n_chars").alias("sum_chars"),
        )
        # Exact long sum → ONE double division (not avg(double), whose
        # partial-sum order depends on partitioning): the dec_avg shape.
        .withColumn(
            "avg_tokens",
            F.col("n_tokens").cast("double") / F.col("n_docs"),
        )
    )


def deterministic_sample(
    df: DataFrame,
    rates: dict[str, int],
    default_rate: int = 20,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """Deterministic stratified sampling — the dataset-curation /
    mixture-weighting primitive of a training-data pipeline.

    Each row's fate is a pure function of (salt, id): keep iff
    ``md5_hash(salt || id) % 100 < rate(stratum)``. Unlike
    ``DataFrame.sampleBy`` (seeded per-partition RNG — resample on any
    repartition), this is reproducible across engines, runs, AND
    cluster layouts, so a curated mixture can be re-derived exactly
    from the raw corpus; changing ``salt`` draws an independent
    sample. Map-only: the filter runs at the scan, no shuffle.

    ``rates``: per-stratum keep-percentages (0-100).
    """
    from gh_archive_clickhouse_spark.functions.hashing import word_hash31

    rate = F.lit(default_rate)
    for k, v in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == k, F.lit(v)).otherwise(rate)
    bucket = word_hash31(
        F.concat(F.lit(salt + "_"), F.col(id_col).cast("string"))
    ) % 100
    return df.filter(bucket < rate)


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-k terms by TF-IDF — the keyword/topic signal a
    training-data pipeline uses for domain mixing and filtering.

    Distributed shape (all shuffle-minimal at corpus scale):
      1. explode tokens → (doc, term) counts: hash agg with map-side
         partials, shuffle carries one row per distinct (doc, term);
      2. document frequency: second hash agg over the (already
         aggregated) tf table, shuffle one row per distinct term;
      3. corpus size via a broadcast one-row aggregate (no collect);
      4. tf ⋈ df on term, then a per-doc top-k window.

    Ranking is by the ROUNDED tf·idf score itself (tfidf desc, then
    df asc, term asc as deterministic tiebreaks): tfidf = tf ·
    ln((N+1)/(df+1)), rounded to 6 dp BEFORE the sort so the ordering
    is reproducible across engines — the raw double could flip on a
    1-ulp ln() difference between libm implementations, but a 6-dp
    rounded value only flips if two engines disagree across a rounding
    boundary, which the (already hash-verified) emitted tfidf column
    proves they don't. (An earlier revision ranked by the integer pair
    (tf desc, df asc), which is NOT the tf·idf order when both tf and
    df differ — e.g. tf=2/df=2 must outrank tf=3/df=100.)
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = df.agg(F.count(F.lit(1)).alias("__n"))
    from pyspark.sql import Window

    w = (
        Window.partitionBy(id_col)
        .orderBy(
            F.col("tfidf").desc(), F.col("df").asc(), F.col("term").asc()
        )
    )
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log((F.col("__n") + 1.0) / (F.col("df") + 1.0)),
                6,
            ),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col(id_col),
            "term",
            F.col("rank").cast("int").alias("rank"),
            "tf",
            "df",
            "tfidf",
        )
    )


def ngram_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-contamination check: for each corpus document, the
    fraction of its distinct word n-grams that also appear in a
    benchmark/eval set — THE decontamination pass every LLM training
    pipeline runs before training (n=8..13 word overlap is the
    standard detector).

    Distributed shape: benchmark n-grams are tiny next to a 100 TB
    corpus, so they DISTINCT down and BROADCAST; the corpus side is a
    map-only explode joined against the broadcast set (no shuffle of
    corpus data), then a per-doc hash aggregate. Docs shorter than n
    tokens have no n-grams and produce no row.

    Both sides carry grams as 60-bit md5-derived hashes built in a
    CODEGEN projection over exploded start offsets (the array-building
    higher-order shingle form is CodegenFallback and was ~2x the
    query's cost); distinctness and the membership join run in hash
    space, mirrored exactly by the oracle (collisions ~2^-60, and
    identical in both engines regardless).
    """
    from gh_archive_clickhouse_spark.functions.hashing import md5_long
    from gh_archive_clickhouse_spark.operators._util import (
        ensure_parallelism,
    )

    def _gram_hashes(df: DataFrame, *cols) -> DataFrame:
        toked = (
            ensure_parallelism(df)
            .select(*cols, tokens(F.col(text_col)).alias("__t"))
            .filter(F.size("__t") >= n)
        )
        return toked.select(
            *cols,
            F.explode(
                F.sequence(F.lit(1), F.size("__t") - F.lit(n - 1))
            ).alias("__i"),
            "__t",
        ).select(
            *cols,
            md5_long(
                F.concat_ws(" ", F.expr(f"slice(__t, __i, {n})"))
            ).alias("__g"),
        )

    # Per-doc distinctness runs as its OWN exchange (dropDuplicates on
    # (doc_id, gram) with map-side partial dedup) rather than folding
    # two count_distinct aggregates into one groupBy: the two-distinct
    # form plans an Expand that DOUBLES every gram row through the
    # shuffle, so dedup-then-plain-count shuffles half the bytes (one
    # gram row each, plus a tiny per-doc second exchange) and the
    # broadcast membership probe touches each distinct gram once
    # instead of once per instance per Expand copy.
    doc_grams = _gram_hashes(docs, F.col(id_col)).dropDuplicates(
        [id_col, "__g"]
    )
    bench_grams = (
        _gram_hashes(benchmark)
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    marked = doc_grams.join(F.broadcast(bench_grams), "__g", "left")
    n_grams = F.count(F.lit(1))
    n_cont = F.count(F.col("__hit"))
    return marked.groupBy(id_col).agg(
        n_grams.alias("n_grams"),
        n_cont.alias("n_contaminated"),
        # UNROUNDED integer ratio (dec_avg class): a doc with 2^a·5^b
        # distinct grams can put the true rate exactly on the round-6
        # half-boundary; the raw quotient is bit-deterministic.
        (n_cont / n_grams.cast("double")).alias("rate"),
    )


# ------------------------------------------------------- BPE vocab

BPE_WORD_RE = "^[A-Za-z0-9]+$"
BPE_MAX_WORD_LEN = 32


def _bpe_words(docs: DataFrame, text_col: str) -> DataFrame:
    """Corpus → (word, syms, wcnt) word-frequency table under the BPE
    conventions (alnum words, length cap, char-split symbols). The
    single corpus-wide shuffle of the whole BPE path."""
    word = F.explode(tokens(F.col(text_col))).alias("word")
    return (
        docs.select(word)
        .filter(
            F.col("word").rlike(BPE_WORD_RE)
            & (F.length("word") <= BPE_MAX_WORD_LEN)
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wcnt"))
        .select(
            "word",
            F.transform(
                F.sequence(F.lit(1), F.length("word")),
                lambda i: F.substring(F.col("word"), i, 1),
            ).alias("syms"),
            "wcnt",
        )
    )


def _merge_fold(left: str, right: str, merged: str):
    """The greedy left-to-right merge of one learned pair, as a pure
    ``aggregate`` higher-order column over ``syms``: the merged
    symbol a||b can never re-match ``a`` (b is non-empty), so checking
    only the fold output's last element reproduces exact
    non-overlapping greedy semantics."""
    la, ra, ma = F.lit(left), F.lit(right), F.lit(merged)
    folded = F.aggregate(
        F.slice("syms", F.lit(2), F.size("syms") - 1),
        F.array(F.element_at("syms", 1)),
        lambda out, x: F.when(
            (F.element_at(out, -1) == la) & (x == ra),
            F.concat(
                F.slice(out, F.lit(1), F.size(out) - 1),
                F.array(ma),
            ),
        ).otherwise(F.concat(out, F.array(x))),
    )
    return F.when(F.size("syms") < 2, F.col("syms")).otherwise(folded)


def _bpe_pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent-pair counts over a (syms, wcnt) word table: pair
    explode weighted by word count → hash aggregate (map-side
    partials — at |distinct pairs| ≪ exploded volume the combine does
    almost all the work). Returns the (l, r, pair_count) frame; the
    callers put a TakeOrderedAndProject on top, never a global
    sort."""
    idx = F.when(
        F.size("syms") >= 2,
        F.sequence(F.lit(1), F.size("syms") - 1),
    ).otherwise(F.array().cast("array<int>"))
    pair = F.explode(
        F.transform(
            idx,
            lambda i: F.struct(
                F.element_at("syms", i).alias("l"),
                F.element_at("syms", i + F.lit(1)).alias("r"),
            ),
        )
    ).alias("pr")
    return (
        words.select(pair, "wcnt")
        .groupBy("pr.l", "pr.r")
        .agg(F.sum("wcnt").alias("pair_count"))
    )


def bpe_pair_election(words: DataFrame) -> DataFrame:
    """One merge round's pair election over a (syms, wcnt) word
    table: :func:`_bpe_pair_counts` → orderBy+limit(1), which
    compiles to TakeOrderedAndProject (per-task top-1, driver merge
    of #partitions rows). Returns the 1-row (l, r, pair_count)
    frame."""
    return (
        _bpe_pair_counts(words)
        .orderBy(F.desc("pair_count"), F.asc("l"), F.asc("r"))
        .limit(1)
    )


def bpe_vocab_build(
    docs: DataFrame,
    text_col: str = "text",
    rounds: int = 8,
) -> DataFrame:
    """Byte-pair-encoding vocabulary construction — the merge-table
    build every tokenizer training run performs before packing.

    Classic Sennrich-style BPE, shaped for 100 TB:

    1. ONE corpus-wide shuffle builds the word-frequency table
       (map-side-combined hash aggregate). Everything after runs on
       that table — |distinct words|, millions of rows, not the
       corpus — so R merge rounds never rescan the corpus.
    2. Per round: adjacent symbol pairs are exploded from each word's
       symbol array weighted by word count and hash-aggregated
       (map-side partials again); the winning pair is elected with
       orderBy+limit(1) — TakeOrderedAndProject (per-task top-1 +
       driver merge), never a global sort.
    3. The elected pair is applied as a greedy left-to-right fold
       over each word's symbols (pure ``aggregate`` higher-order
       function, no UDF): the merged symbol a||b never re-matches
       ``a`` in the same round (b is non-empty), so checking only the
       fold output's last element reproduces exact non-overlapping
       greedy semantics. The word table is re-materialized per round
       (the qx25 Lloyd-iteration pattern) to keep lineage flat.

    Only the 1-row election result crosses to the driver per round
    (same class as connected_components' convergence probe).

    Conventions (mirrored in the SQL oracle): words are whitespace
    tokens matching ``[A-Za-z0-9]+`` with length <= 32 (punctuation
    and over-long tokens are out of vocabulary scope, the standard
    pre-tokenizer split); no end-of-word marker; election ties break
    on (pair_count DESC, left ASC, right ASC).

    Returns one row per executed merge round:
    (merge_round, left, right, merged, pair_count). Stops early if no
    pair remains.
    """
    spark = docs.sparkSession
    from gh_archive_clickhouse_spark.plans.common import materialize

    words = materialize(
        _bpe_words(docs, text_col).drop("word"), "bpe_words"
    )
    merges, _ = _bpe_round_loop(words, rounds)
    # local_rows_df (r16): the R-row merge table as a one-partition
    # JVM-literal frame — createDataFrame(list) parallelizes into
    # defaultParallelism Python-RDD slices, a 32-task Python-worker
    # wave per consumer action for a handful of driver-local rows.
    from gh_archive_clickhouse_spark.operators._util import local_rows_df

    return local_rows_df(
        spark,
        merges,
        "merge_round int, left string, right string, merged string, "
        "pair_count bigint",
    )


def _bpe_round_loop(
    words: DataFrame, rounds: int
) -> tuple[list, DataFrame]:
    """The sequential-election round loop shared by
    :func:`bpe_vocab_build` and :func:`bpe_build_encode_stats`: up to
    ``rounds`` exact Sennrich rounds over a (…, syms, wcnt) word
    table, each round's fold re-materialized (the qx25
    bounded-iteration pattern). Any extra columns (the fused encode
    path carries ``word``) pass through untouched. Returns
    ``(merges, final_words)`` — the merge rows in election order and
    the word table with every elected merge applied."""
    from gh_archive_clickhouse_spark.plans.common import materialize

    carry = [c for c in words.columns if c != "syms"]
    merges: list = []
    for rnd in range(1, rounds + 1):
        elected = bpe_pair_election(words).head(1)
        if not elected:
            break
        left, right, pair_count = (
            elected[0].l, elected[0].r, elected[0].pair_count
        )
        merged = left + right
        merges.append((rnd, left, right, merged, int(pair_count)))
        words = materialize(
            words.select(
                _merge_fold(left, right, merged).alias("syms"), *carry
            ),
            f"bpe_words_r{rnd}",
        )
    return merges, words


def bpe_build_encode_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rounds: int = 8,
) -> DataFrame:
    """Fused vocabulary BUILD + ENCODE — exactly
    ``bpe_encode_stats(docs, merges_of(bpe_vocab_build(docs,
    rounds)))``, computed without the second corpus word-table build
    or the R re-applied merge folds that composition pays (guide
    §1.2): the build's final round already holds every word's fully
    merged symbol array, so carrying the ``word`` column through the
    round loop makes the last word table ITSELF the encode dictionary
    (word → size(syms)). Fold composition is identical either way
    (the encode path applies the same ``_merge_fold`` chain to the
    same word table), so the per-doc stats are bit-identical —
    property-tested against the two-pass composition.

    Returns (id_col, n_vocab_words, n_bpe_tokens), the
    :func:`bpe_encode_stats` contract."""
    from gh_archive_clickhouse_spark.plans.common import materialize

    words = materialize(_bpe_words(docs, text_col), "bpe_be_words")
    _, final_words = _bpe_round_loop(words, rounds)
    enc = materialize(
        final_words.select("word", F.size("syms").alias("n_tokens")),
        "bpe_encoded_vocab",
    )
    return _bpe_join_back(docs, enc, text_col, id_col)


def _merge_fold_many(pairs: list) -> "F.Column":
    """One greedy left-to-right pass applying a SET of symbol-disjoint
    merges as a single ``aggregate`` higher-order column: the pair
    lookup is a map LITERAL ((left ' ' right) → merged — symbols are
    alnum, so the space separator is unambiguous), so the round's plan
    depth is constant in the number of merges (chaining one
    :func:`_merge_fold` select per pair would grow it linearly).

    Disjointness (no symbol is the side or the concatenation of two
    applied pairs) is what makes the single pass equal to applying
    the pairs one at a time: no merge's output can be the side of
    another, so no position can match two pairs and no merge can
    create or destroy an occurrence of another. ``try_element_at``
    keeps the missing-key probe NULL (not an error) under ANSI mode.
    """
    entries = []
    for left, right, merged in pairs:
        entries += [F.lit(left + " " + right), F.lit(merged)]
    m = F.create_map(*entries)

    def step(out, x):
        hit = F.try_element_at(
            m, F.concat_ws(" ", F.element_at(out, -1), x)
        )
        return F.when(
            hit.isNotNull(),
            F.concat(
                F.slice(out, F.lit(1), F.size(out) - 1), F.array(hit)
            ),
        ).otherwise(F.concat(out, F.array(x)))

    folded = F.aggregate(
        F.slice("syms", F.lit(2), F.size("syms") - 1),
        F.array(F.element_at("syms", 1)),
        step,
    )
    return F.when(F.size("syms") < 2, F.col("syms")).otherwise(folded)


def bpe_vocab_build_batched(
    docs: DataFrame,
    text_col: str = "text",
    merges: int = 64,
    pairs_per_round: int = 16,
) -> DataFrame:
    """Scale variant of :func:`bpe_vocab_build`: elect up to k
    mutually NON-CONFLICTING pairs per round and apply them in one
    pass, cutting rounds (= sequential Spark jobs) from R to ~R/k.

    Why it exists: the sequential build is exact Sennrich BPE and the
    right tool at its declared budget (tens of merges — probe
    vocabularies, oracle parity), but one full job per merge is
    structurally unusable at a production vocabulary (R ≈ 30k ⇒ 30k
    sequential jobs). This is the standard batched-BPE compromise: a
    30k-merge build becomes ~30k/k rounds (~120 at k=256), each the
    same election plan as the sequential build.

    Exactness contract: a pair is accepted only if its left, right,
    AND concatenation are all unused by pairs already accepted this
    round, so no accepted merge can create, destroy, or alias
    occurrences counted by another — each accepted pair applies at
    exactly the count it was elected at, and the chained folds
    commute. The ONLY divergence from sequential BPE is that pairs
    2..k are elected from the same count snapshot, so a pair newly
    created by an earlier merge in the round cannot overtake them
    mid-round; with ``pairs_per_round=1`` the output is identical to
    :func:`bpe_vocab_build` (property-tested both ways in
    tests/test_operators.py).

    Plan shape per round: :func:`_bpe_pair_counts` (explode →
    map-side-combined hash aggregate) under TakeOrderedAndProject of
    O(k) rows — the driver sees O(k) strings, never the pair table;
    the accepted pairs apply in ONE :func:`_merge_fold_many` pass
    (map-literal lookup, plan depth CONSTANT in k — disjointness makes
    the single pass equal to pair-at-a-time application), and the word
    table re-materializes once per round. Returns the same schema as
    the sequential build, one row per merge in global election order.
    """
    spark = docs.sparkSession
    from gh_archive_clickhouse_spark.plans.common import materialize

    words = materialize(
        _bpe_words(docs, text_col).drop("word"), "bpeb_words"
    )
    out: list = []
    rnd = 0
    while len(out) < merges:
        rnd += 1
        want = min(pairs_per_round, merges - len(out))
        # Over-fetch: conflicts drop some of the top rows; a short
        # round just elects fewer merges and the next round re-counts,
        # so under-acceptance costs an extra round, never correctness.
        top = (
            _bpe_pair_counts(words)
            .orderBy(F.desc("pair_count"), F.asc("l"), F.asc("r"))
            .limit(4 * want + 8)
            .collect()
        )
        if not top:
            break
        used: set = set()
        accepted = []
        for row in top:
            if len(accepted) >= want:
                break
            left, right, merged = row.l, row.r, row.l + row.r
            if left in used or right in used or merged in used:
                continue
            used.update((left, right, merged))
            accepted.append((left, right, merged, int(row.pair_count)))
        for left, right, merged, cnt in accepted:
            out.append((len(out) + 1, left, right, merged, cnt))
        fold = _merge_fold_many([(l, r, m) for l, r, m, _ in accepted])
        words = materialize(
            words.select(fold.alias("syms"), "wcnt"),
            f"bpeb_words_r{rnd}",
        )
    # local_rows_df: same spec-sized-frame layout as the sequential
    # build's return.
    from gh_archive_clickhouse_spark.operators._util import local_rows_df

    return local_rows_df(
        spark,
        out,
        "merge_round int, left string, right string, merged string, "
        "pair_count bigint",
    )


def _bpe_join_back(
    docs: DataFrame,
    enc: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Shared encode tail: join per-word token counts (``enc``:
    word, n_tokens) back to the exploded corpus under the
    bpe_vocab_build word-filter conventions and fold per-doc sums —
    the ONE place those conventions are applied corpus-side, so the
    expression and kernel encode paths cannot drift apart."""
    corpus = docs.select(
        F.col(id_col),
        F.explode(tokens(F.col(text_col))).alias("word"),
    ).filter(
        F.col("word").rlike(BPE_WORD_RE)
        & (F.length("word") <= BPE_MAX_WORD_LEN)
    )
    return (
        corpus.join(enc, "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_vocab_words"),
            F.sum("n_tokens").alias("n_bpe_tokens"),
        )
    )


def bpe_encode_stats(
    docs: DataFrame,
    merges: list[tuple[str, str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned BPE merge table — tokenizer ENCODE, the
    counterpart of :func:`bpe_vocab_build` and the pass that turns a
    curated corpus into token counts for packing (qx33) and budget
    planning.

    Applying merges in learned order is the standard BPE encode
    algorithm; each merge is the same greedy ``aggregate`` fold as
    the build, unrolled once per merge — map-only over the word
    table, no UDF. Shaped for 100 TB: the DISTINCT-word table is
    encoded once (not the corpus — duplicate words pay nothing), then
    per-word token counts join back to the exploded corpus (AQE
    decides broadcast vs shuffle by the vocabulary's actual size) and
    fold into per-doc sums. Word-filter conventions follow
    bpe_vocab_build; docs with no in-vocabulary word drop out (inner
    join), mirrored by the oracle.

    Returns (id_col, n_vocab_words, n_bpe_tokens).
    """
    from gh_archive_clickhouse_spark.plans.common import materialize

    enc = _bpe_words(docs, text_col)
    for left, right, merged in merges:
        enc = enc.select(
            "word", _merge_fold(left, right, merged).alias("syms"), "wcnt"
        )
    enc = materialize(
        enc.select("word", F.size("syms").alias("n_tokens")),
        "bpe_encoded_vocab",
    )
    return _bpe_join_back(docs, enc, text_col, id_col)


BPE_ENCODE_VOCAB_SCHEMA = "word string, n_tokens int"


def bpe_encode_stats_kernel(
    docs: DataFrame,
    merges: list[tuple[str, str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Merge-table-size-safe tokenizer ENCODE — same contract and
    output as :func:`bpe_encode_stats`, built for PRODUCTION
    vocabularies.

    :func:`bpe_encode_stats` unrolls the learned merges as R nested
    ``aggregate`` higher-order expressions, so the Catalyst plan
    depth grows linearly with vocabulary size — analysis/codegen fall
    over long before a real tokenizer's ~30k merges. Here the merge
    list is BROADCAST (one copy per executor, arbitrary length) to an
    Arrow-batched ``mapInPandas`` kernel that applies all R merges
    per DISTINCT word inside one map stage: plan size is INDEPENDENT
    of R (pinned by tests/test_operators.py's
    test_bpe_encode_kernel_plan_size_independent_of_merge_count), and
    the kernel's integer token counts keep oracle hash-parity — the
    same policy as the multimodal decode kernels.

    Semantics are identical to the expression path (the parity
    cross-check in tests): merges apply in LEARNED ORDER, one greedy
    left-to-right pass each, where the fold's output-last-element
    check reproduces exact non-overlapping greedy semantics. The
    kernel never iterates the full merge list per word: a
    once-per-task inverted index (symbol -> merge indexes using it as
    left or right) seeds a min-heap of CANDIDATE merges — those whose
    two sides are both present in the word — and each fired merge
    re-scans only the index entries of the symbol it created (for
    later-indexed merges it newly enables). Popping the heap in
    ascending index order replays learned order exactly: a merge is
    queued whenever both its sides become present (present-at-init, or
    at the firing of the LAST merge that created a side — which has a
    smaller index than the enabled merge's own turn), so a merge never
    on the heap is precisely one whose greedy pass would no-op. Per
    word the cost is proportional to the merges that can actually
    touch it, not to R — a 30k-entry table costs a word only its own
    handful of candidates.

    Scale shape: the corpus pays ONE shuffle (the distinct-word
    build); the kernel runs map-only over |distinct words| rows;
    per-word token counts join back to the exploded corpus
    (AQE-decided broadcast vs shuffle) and fold into per-doc sums.
    Word-filter conventions follow bpe_vocab_build; docs with no
    in-vocabulary word drop out (inner join), mirrored by the oracle.

    Returns (id_col, n_vocab_words, n_bpe_tokens).
    """
    from gh_archive_clickhouse_spark.plans.common import (
        ensure_package_on_workers,
        materialize,
    )

    spark = docs.sparkSession
    ensure_package_on_workers(spark)
    bc = spark.sparkContext.broadcast(
        [(str(l), str(r), str(m)) for l, r, m in merges]
    )

    def _encode(batches):
        import heapq

        import pandas as pd

        mlist = bc.value
        # Inverted index, built once per task: symbol -> ascending
        # merge indexes where it appears as left or right. A word only
        # ever consults the entries of symbols it contains.
        by_sym: dict = {}
        for i, (left, right, _m) in enumerate(mlist):
            by_sym.setdefault(left, []).append(i)
            if right != left:
                by_sym.setdefault(right, []).append(i)
        no_merges: list = []
        for pdf in batches:
            words = pdf["word"].tolist()
            counts = []
            for w in words:
                syms = list(w)
                if len(syms) >= 2:
                    present = set(syms)
                    heap: list = []
                    queued = set()
                    for s in present:
                        for i in by_sym.get(s, no_merges):
                            if i not in queued:
                                left, right, _m = mlist[i]
                                if left in present and right in present:
                                    queued.add(i)
                                    heap.append(i)
                    heapq.heapify(heap)
                    while heap and len(syms) >= 2:
                        i = heapq.heappop(heap)
                        left, right, merged = mlist[i]
                        # sides may have been consumed since queueing;
                        # the greedy pass would no-op, skip it
                        if left not in present or right not in present:
                            continue
                        out = [syms[0]]
                        for x in syms[1:]:
                            if out[-1] == left and x == right:
                                out[-1] = merged
                            else:
                                out.append(x)
                        if len(out) != len(syms):
                            syms = out
                            present = set(syms)
                            # the created symbol may enable merges at
                            # LATER indexes only — earlier merges had
                            # their (correctly empty) turn already
                            for j in by_sym.get(merged, no_merges):
                                if j > i and j not in queued:
                                    l2, r2, _m2 = mlist[j]
                                    if l2 in present and r2 in present:
                                        queued.add(j)
                                        heapq.heappush(heap, j)
                counts.append(len(syms))
            yield pd.DataFrame(
                {
                    "word": pd.array(words, dtype="object"),
                    "n_tokens": pd.array(counts, dtype="int32"),
                }
            )

    enc = materialize(
        _bpe_words(docs, text_col)
        .select("word")
        .mapInPandas(_encode, schema=BPE_ENCODE_VOCAB_SCHEMA),
        "bpe_encoded_vocab_kernel",
    )
    return _bpe_join_back(docs, enc, text_col, id_col)


# ------------------------------------------------- corpus rarity (LM)

RARITY_SCALE = 1_000


def rarity_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc inverse-frequency rarity — the perplexity-proxy quality
    signal (CCNet-style LM filtering) without transcendentals: docs
    dominated by corpus-rare words score high, boilerplate scores low.

    A word's rarity is ``total_tokens / count(word)`` (the unigram
    1/p(w)), kept ENGINE-EXACT as the integer
    ``(RARITY_SCALE * total) div count`` — floor division on BIGINTs
    is bit-identical everywhere, and the per-doc SUM of integers is
    order-independent, so the result hash-matches any SQL oracle
    (log-based perplexity would ride on log() ULP differences between
    runtimes; see qx38's exp-free squash for the same policy). The
    MEAN stays integer too — the same milli units, ``s div n`` —
    because one double division at the end was enough to
    hash-mismatch: at sf0.1 a real doc landed exactly on a
    round(x, 6) half-boundary (2406083/80/1000 = 30.0760375) where
    Spark's BigDecimal HALF_UP and DuckDB's binary rounding disagree.
    Keeping the mean at the sum's own scale (no precision-amplifying
    multiply) means it can never overflow before the sum does.

    Scale shape: ONE shuffle builds the corpus vocabulary
    (map-side-combined), its 1-row total broadcasts, the corpus-side
    explode joins the vocabulary (AQE picks broadcast vs shuffle by
    the vocabulary's real size) and folds per doc. Overflow bound
    (worst case — every doc word unique in the corpus):
    sum_rarity_milli ≤ n_doc_tokens * RARITY_SCALE * total_tokens,
    i.e. BIGINT-safe while n_doc_tokens * total ≲ 9e15 (a 1e4-token
    doc in a 9e11-token corpus); the mean shares this bound exactly.
    Raise to DECIMAL(38,0) accumulation beyond that.

    Returns (id_col, n_tokens, sum_rarity_milli, mean_rarity_milli);
    docs with zero tokens drop out.
    """
    corpus = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("word")
    )
    vocab = corpus.groupBy("word").agg(F.count(F.lit(1)).alias("__c"))
    total = vocab.agg(F.sum("__c").alias("__t"))
    joined = (
        corpus.join(vocab, "word")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            F.expr(f"({RARITY_SCALE} * __t) div __c").alias("__rm"),
        )
    )
    agg = joined.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_tokens"),
        F.sum("__rm").alias("sum_rarity_milli"),
    )
    return agg.select(
        F.col(id_col),
        "n_tokens",
        "sum_rarity_milli",
        F.expr("sum_rarity_milli div n_tokens")
        .cast("long")
        .alias("mean_rarity_milli"),
    )
