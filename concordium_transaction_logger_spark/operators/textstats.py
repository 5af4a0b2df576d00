"""Text-analysis operators for training-data pipelines over ``documents``.

All pure JVM-side expressions (no Python UDFs): regex, split, transform,
aggregate — whole-stage-codegen friendly and embarrassingly parallel, so
they scale linearly with input partitions at 100 TB.

Determinism: ratios are per-mille BIGINTs (see ingest/oracle.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table

#: Tiny per-language stopword sets for the n-gram/stopword language-ID
#: heuristic. Deliberately small so the oracle SQL mirrors them verbatim.
LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "in", "is"),
    "fr": ("le", "la", "les", "et", "des", "une"),
    "de": ("der", "die", "das", "und", "nicht", "ist"),
    "es": ("el", "los", "las", "que", "por", "una"),
}

EN_STOPWORDS = ("the", "and", "of", "to", "in", "is", "a", "for", "on", "with")


def tokens(col: Column) -> Column:
    """Lowercased alphanumeric tokens; empty tokens filtered (both engines
    keep boundary empties differently, so we never rely on them)."""
    return F.filter(F.split(F.lower(col), "[^a-z0-9]+"), lambda x: x != F.lit(""))


def _marker_count(text_lower: Column, words: tuple[str, ...]) -> Column:
    pattern = r"\b(" + "|".join(words) + r")\b"
    return F.size(F.regexp_extract_all(text_lower, F.lit(pattern), F.lit(0))).cast(
        "long"
    )


def _spread(docs: DataFrame) -> DataFrame:
    """Repartition before CPU-heavy per-document expressions: corpora arrive
    as few large files and the scan's partitioning would serialize the work."""
    return docs.repartition(docs.sparkSession.sparkContext.defaultParallelism, "doc_id")


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace/alnum tokenizer): totals, distinct count,
    and mean token length in per-mille. Tokens are bound to a column once —
    never re-tokenize per derived expression."""
    docs = _spread(load_table(spark, sf_dir, "documents"))
    t = F.col("t")
    # Counts cast to long: DuckDB len()/length() yield BIGINT — keep the
    # engine and oracle schemas dtype-identical, not just value-identical.
    return docs.select("doc_id", tokens(F.col("text")).alias("t")).select(
        "doc_id",
        F.size(t).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(t)).cast("long").alias("n_uniq_tokens"),
        F.aggregate(t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)).alias(
            "chars_in_tokens"
        ),
    ).withColumn(
        "mean_token_len_permille",
        permille_expr("chars_in_tokens", "n_tokens"),
    )


def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality heuristics: alpha / digit / whitespace / stopword
    ratios in per-mille, over raw chars and tokens."""
    docs = _spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text", tokens(F.col("text")).alias("t")
    )
    lower = F.lower(F.col("text"))
    n = F.length("text")
    t = F.col("t")
    alpha = F.length(F.regexp_replace(lower, "[^a-z]", ""))
    digit = F.length(F.regexp_replace(lower, "[^0-9]", ""))
    space = F.length(F.regexp_replace(F.col("text"), "[^ ]", ""))
    stop = F.size(F.filter(t, lambda x: x.isin(*EN_STOPWORDS)))
    # raw counts get names first so the shared integer rounding formula
    # (permille_expr) applies uniformly; Catalyst collapses the two
    # selects into one projection
    raw = docs.select(
        "doc_id",
        n.cast("long").alias("n_chars"),
        F.size(t).cast("long").alias("n_tokens"),
        alpha.cast("long").alias("alpha_n"),
        digit.cast("long").alias("digit_n"),
        space.cast("long").alias("space_n"),
        stop.cast("long").alias("stop_n"),
    )
    return raw.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        permille_expr("alpha_n", "n_chars").alias("alpha_permille"),
        permille_expr("digit_n", "n_chars").alias("digit_permille"),
        permille_expr("space_n", "n_chars").alias("space_permille"),
        permille_expr("stop_n", "n_tokens").alias("stopword_permille"),
    )


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID. Scores each language by marker-word
    hits; highest count wins with a fixed tiebreak order (en>fr>de>es),
    'und' when nothing matches."""
    docs = _spread(load_table(spark, sf_dir, "documents"))
    lower = F.lower(F.col("text"))
    scored = docs.select(
        "doc_id",
        "lang",
        *[
            _marker_count(lower, words).alias(f"score_{code}")
            for code, words in LANG_MARKERS.items()
        ],
    )
    best = F.greatest(*[F.col(f"score_{c}") for c in LANG_MARKERS])
    pred = F.when(best == 0, F.lit("und"))
    for code in LANG_MARKERS:  # insertion order == tiebreak order
        pred = pred.when(F.col(f"score_{code}") == best, F.lit(code))
    return scored.withColumn("pred_lang", pred).select(
        "doc_id", "lang", "pred_lang", *[f"score_{c}" for c in LANG_MARKERS]
    )


#: GPT-2-style pretokenizer regex (contractions | space-glued word |
#: space-glued number | space-glued punctuation run | whitespace run).
#: Alternation-order dependent: Java regex and RE2 (DuckDB) both apply
#: leftmost-first alternative semantics, so counts agree engine-to-engine.
BPE_SPLIT = r"'(s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s']+|\s+"


def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, BPE-ish: the GPT-2 pretokenizer split (the unit BPE
    merges start from — the standard 'how many tokens is this corpus'
    estimator) next to the plain whitespace count. Pure regexp, JVM-side."""
    docs = _spread(load_table(spark, sf_dir, "documents"))
    lower = F.lower(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(lower, F.lit(BPE_SPLIT), F.lit(0)))
        .cast("long")
        .alias("n_bpe_pieces"),
        F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != F.lit("")))
        .cast("long")
        .alias("n_ws_tokens"),
    ).orderBy("doc_id")


#: Winnowing parameters: k-gram size and window width.
WINNOW_K = 3
WINNOW_W = 4


def winnow_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The winnowing fingerprint set (doc_id, fp) as a session-cached
    index artifact — the md5-per-k-gram pass over every document body is
    the dominant linear cost of the winnow family, so it is paid once per
    (session, corpus) like the shingle/minhash indexes (``dedup.py``),
    not per consumer query (the un-amortized recompute was the winnow
    family's whole scale-slope: 0.73 vs 0.20 for the index-backed
    jaccard path, SCALE.md)."""
    from ..cache import get_or_build

    def build() -> DataFrame:
        docs = _spread(load_table(spark, sf_dir, "documents"))
        t = F.col("t")
        grams = F.transform(
            F.sequence(F.lit(1), F.size(t) - (WINNOW_K - 1)),
            lambda i: F.md5(
                F.concat_ws(
                    " ", *[F.element_at(t, i + off) for off in range(WINNOW_K)]
                )
            ),
        )
        tok = (
            docs.select("doc_id", tokens(F.col("text")).alias("t"))
            .filter(F.size(t) >= WINNOW_K + WINNOW_W - 1)
            .select("doc_id", grams.alias("h"))
        )
        h = F.col("h")
        mins = F.transform(
            F.sequence(F.lit(1), F.size(h) - (WINNOW_W - 1)),
            lambda i: F.array_min(F.slice(h, i, WINNOW_W)),
        )
        return tok.select("doc_id", F.explode(F.array_distinct(mins)).alias("fp"))

    return get_or_build("winnow_index", spark, sf_dir, build)


def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprints by winnowing (Schleimer et al.,
    SIGMOD'03): hash every token k-gram, slide a w-window over the hash
    sequence, keep each window's minimum — the distinct minima are the
    doc's fingerprint set (robust to local edits, unlike the whole-doc
    hash). All array expressions, no shuffle until the final explode;
    md5's lexicographic min stands in for the rolling hash so the DuckDB
    oracle is bit-identical. Backed by the session-cached
    :func:`winnow_index`."""
    return winnow_index(spark, sf_dir).orderBy("doc_id", "fp")


#: Quality-gate thresholds (per-mille / absolute) — the accept/reject
#: rules a curation intake applies before any expensive processing.
GATE_MIN_CHARS = 100
GATE_MIN_ALPHA_PERMILLE = 500
GATE_MAX_DIGIT_PERMILLE = 300


def gate_reason_sql(text: str = "text", dialect: str = "spark") -> str:
    """The quality-gate verdict as ONE SQL string rendered for either
    dialect — the Spark op (via ``F.expr``) and every DuckDB oracle
    consume THIS text, so the rule order, the thresholds, and the
    integer rounding convention cannot drift (the oracle previously
    carried four hand-copies of the CASE). The *first* failing rule is
    the reason; per-milles use the engine's one rounding formula
    (:func:`mean_millis_expr`'s ``(2000*t + n) DIV (2*n)``)."""
    g = ", 'g'" if dialect == "duckdb" else ""
    div = "//" if dialect == "duckdb" else "DIV"
    n = f"length({text})"
    alpha = f"length(regexp_replace(lower({text}), '[^a-z]', ''{g}))"
    digit = f"length(regexp_replace(lower({text}), '[^0-9]', ''{g}))"

    def pm(cnt: str) -> str:
        return (
            f"(CASE WHEN {n} > 0 "
            f"THEN (2000 * {cnt} + {n}) {div} (2 * {n}) ELSE 0 END)"
        )

    return (
        f"CASE WHEN {n} < {GATE_MIN_CHARS} THEN 'too_short' "
        f"WHEN {pm(alpha)} < {GATE_MIN_ALPHA_PERMILLE} THEN 'low_alpha' "
        f"WHEN {pm(digit)} > {GATE_MAX_DIGIT_PERMILLE} THEN 'digit_heavy' "
        f"ELSE 'ok' END"
    )


def gate_reason(text: str = "text") -> "F.Column":
    """The quality-gate verdict as a pure column expression over the
    named text column. Shared by the batch :func:`quality_gate` query
    and the streaming curation ingest, so both paths gate identically —
    and rendered from :func:`gate_reason_sql`, so the oracle gates
    identically too."""
    return F.expr(gate_reason_sql(text, "spark"))


def quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accept/reject each document against the quality thresholds —
    the gating step that runs before tokenize/shingle/embed so rejected
    documents never enter the expensive pipeline.

    Pure row-local expressions over one scan (see :func:`gate_reason`);
    the verdict is a narrow (doc_id, verdict, reason) frame, so
    downstream anti-joins against rejects broadcast."""
    docs = _spread(load_table(spark, sf_dir, "documents"))
    reason = gate_reason("text")
    return docs.select(
        "doc_id",
        reason.alias("reason"),
        (reason == "ok").alias("accept"),
    ).orderBy("doc_id")


def tfdf_top_terms(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Per-document top-k terms by TF-DF weight — the tf-idf shape with an
    integer-exact weight: ``score = tf * (1_000_000 DIV df)`` (df = number
    of documents containing the term). Integer division instead of
    ``ln(N/df)`` keeps the score engine-portable; the ranking it induces
    is the same monotone-in-tf, anti-monotone-in-df order.

    Scale shape: three shuffles — (doc, term) tf counts, term df counts
    (|vocabulary| rows, joined back by broadcast), and the per-doc top-k
    window (k-row heap per doc). Document bodies never shuffle; only
    (doc_id, term, counts) triples do."""
    from pyspark.sql.window import Window

    docs = _spread(load_table(spark, sf_dir, "documents"))
    term = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    tf = term.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        tf.join(F.broadcast(df), "term")
        .withColumn("score", F.col("tf") * F.expr("1000000 DIV df"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df", "score", "rank")
        .orderBy("doc_id", "rank")
    )


def token_df_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary document-frequency distribution (the Zipf profile): how
    many distinct terms appear in exactly N documents. Two partial
    aggregations — per-term df over the distinct (doc, term) set, then the
    df histogram (tiny). The corpus-health check run before dedup
    thresholds (stop-shingle caps, minhash band sizing) are chosen."""
    docs = _spread(load_table(spark, sf_dir, "documents"))
    tokset = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("term")
    )
    df = tokset.groupBy("term").agg(F.count("*").alias("df"))
    return (
        df.groupBy("df")
        .agg(F.count("*").alias("n_terms"))
        .orderBy("df")
    )


def source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus profile: document count, total/min/max length,
    and language breadth — the provenance-level health table an intake
    reviews before weighting sources. One partial-aggregated shuffle of
    |sources| rows (the distinct-lang count dedups on (source, lang)
    first)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .orderBy("source")
    )


def fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical document fingerprint: md5 over the alnum-normalized text
    (the exact-dedup key; reference analog: 32-byte content hash)."""
    docs = _spread(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.md5(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", "")).alias("fp"),
    )


def repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition profile — the boilerplate/spam signal a
    training-data quality pipeline gates on: distinct-token ratio and the
    share of the single most frequent token, both in per-mille.

    Repetition is document-local, so the whole profile is computed INSIDE
    the row (SCALE.md: per-doc stats never justify a global shuffle): sort
    the token array, then ONE O(n) expression fold (`aggregate`) over the
    sorted runs finds the longest run = most frequent token. Ties resolve
    to the lexicographically smallest token for free — sorted order visits
    it first and only strictly-longer runs overtake. Zero exchanges except
    the output sort; at 100 TB this is embarrassingly parallel."""
    docs = _spread(load_table(spark, sf_dir, "documents"))
    t = F.col("t")
    zero_l = F.lit(0).cast("long")
    init = F.struct(
        F.lit("").alias("prev"),
        zero_l.alias("run"),
        zero_l.alias("best_c"),
        F.lit("").alias("best_tok"),
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        take = run > acc["best_c"]
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(take, run).otherwise(acc["best_c"]).alias("best_c"),
            F.when(take, x).otherwise(acc["best_tok"]).alias("best_tok"),
        )

    prof = (
        docs.select("doc_id", tokens(F.col("text")).alias("t"))
        .filter(F.size(t) > 0)
        .select(
            "doc_id",
            F.size(t).cast("long").alias("n_tokens"),
            F.size(F.array_distinct(t)).cast("long").alias("n_distinct"),
            F.aggregate(F.array_sort(t), init, step).alias("m"),
        )
    )
    return prof.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        permille_expr("n_distinct", "n_tokens").alias("distinct_permille"),
        F.col("m.best_tok").alias("top_token"),
        F.col("m.best_c").alias("top_count"),
        permille_expr("m.best_c", "n_tokens").alias("top_share_permille"),
    ).orderBy("doc_id")


#: deterministic stand-in weight table for the linear quality scorer —
#: hash-derived so it reproduces in any engine; a trained model ships real
#: weights through the identical plumbing.
CLS_SALT = "w1"


def classifier_score(text_col: Column) -> Column:
    """The linear quality score as a reusable column expression (see
    :func:`quality_classifier` for semantics)."""

    def w(tok: Column) -> Column:
        h = F.md5(F.concat(tok, F.lit("#" + CLS_SALT)))
        return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 21) - 10

    return F.aggregate(
        tokens(text_col), F.lit(0).cast("long"), lambda acc, x: acc + w(x)
    )


def quality_classifier(
    spark: SparkSession, sf_dir: str, threshold: int = 0
) -> DataFrame:
    """fastText-style linear quality scorer: score(doc) = sum of per-token
    weights, keep iff score >= threshold — the model-based quality filter
    (DCLM / fineweb-edu style) slot in the curation pipeline.

    The weight table is a deterministic STAND-IN (md5-derived ints in
    [-10, 10]; a trained classifier would ship real weights — the
    plumbing is what's real): hashed-feature lookup per token, summed
    row-locally. Zero shuffles — the score is a pure projection computed
    inside the scan, so at 100 TB the filter runs scan-side exactly like
    the heuristic gate (`doc_quality_gate`) it complements."""
    docs = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    score = classifier_score(F.col("text"))
    return (
        docs.select(
            "doc_id",
            F.size(t).cast("long").alias("n_tokens"),
            score.alias("quality_score"),
            (score >= F.lit(threshold)).alias("keep"),
        )
        .orderBy("doc_id")
    )


def bigram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition: the fraction of token
    bigrams that are duplicates of an earlier bigram in the same doc —
    the boilerplate/looping-text signal that complements the top-token
    share in `doc_repetition_profile`.

    Bigram scope is the document, so everything is row-local array math
    (transform over an index sequence + array_distinct) — zero shuffles;
    at 100 TB the filter runs scan-side."""
    docs = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    bg = F.expr(
        "CASE WHEN size(t) >= 2 THEN "
        "transform(sequence(1, size(t) - 1), i -> concat(t[i-1], ' ', t[i])) "
        "ELSE array() END"
    )
    nb = F.size(F.col("b")).cast("long")
    nd = F.size(F.array_distinct(F.col("b"))).cast("long")
    return (
        docs.select("doc_id", t.alias("t"))
        .select("doc_id", bg.alias("b"))
        .select(
            "doc_id",
            nb.alias("n_bigrams"),
            nd.alias("n_distinct_bigrams"),
        )
        .withColumn(
            "dup_permille",
            permille_expr("n_bigrams - n_distinct_bigrams", "n_bigrams"),
        )
        .orderBy("doc_id")
    )


#: Default df-cap for the winnow fingerprint self-join — same skew story
#: as ``dedup.DEFAULT_MAX_DF``: a boilerplate fingerprint shared by d
#: documents contributes d² pairs, so the capped form is the default and
#: the uncapped exact variant is ``max_df=None``.
WINNOW_MAX_DF = 5


def winnow_dup_pairs(
    spark: SparkSession,
    sf_dir: str,
    min_shared: int = 2,
    max_df: int | None = WINNOW_MAX_DF,
) -> DataFrame:
    """Cross-document repeated-substring detection: document pairs sharing
    at least ``min_shared`` winnowing fingerprints — the scalable stand-in
    for suffix-array substring dedup (Lee et al. 2022): winnowing
    guarantees any shared token run of length >= K+W-1 leaves at least one
    common fingerprint, and the fingerprint set is a sparse sample (~1/W
    of k-grams), so the self-join is orders of magnitude lighter than a
    full shingle join.

    Same join scaling story as n-gram jaccard: hot fingerprints
    (boilerplate) are the skew risk, so the document-frequency cap is ON
    by default — fingerprints in more than ``max_df`` docs are dropped
    via a broadcast anti-join before pair generation (they signal
    boilerplate, not shared authored content). ``max_df=None`` restores
    the exact uncapped join for bounded corpora."""
    fp = winnow_index(spark, sf_dir)
    if max_df is not None:
        # pin the stop list (r10, the ngram_jaccard treatment): the capped
        # frame feeds both self-join sides, and unpinned the df-count
        # aggregate over the winnow index re-executed per side (broadcast
        # subtrees are not exchange-reused across the two references).
        # Tiny by construction — only fingerprints with df > max_df.
        stop = (
            fp.groupBy("fp")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_df)
            .select("fp")
            .localCheckpoint(eager=False)
        )
        fp = fp.join(F.broadcast(stop), "fp", "left_anti")
    a = fp.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fp.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, ["fp"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .orderBy("doc_a", "doc_b")
    )


#: PII surface patterns (Dolma/FineWeb-style curation taggers), ordered —
#: redaction applies them IN THIS ORDER, so an email whose local part is
#: digit-dashed is redacted as an email, not later as a phone. Patterns
#: are deliberately lookaround-free and class-explicit so Java regex
#: (Spark) and RE2 (DuckDB) match identically; both engines scan
#: leftmost non-overlapping.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"[0-9]{3}-[0-9]{2}-[0-9]{4}", "<ID>"),
    ("phone", r"\+[0-9]{7,15}|[0-9]{3}-[0-9]{3,4}-[0-9]{4}", "<PHONE>"),
    ("ipv4", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
)


def _pii_total(text) -> "F.Column":
    """Total PII pattern hits for one text column — the single counting
    definition :func:`pii_stats` and :func:`source_pii_profile` share,
    so the per-source rollup always equals the sum of the per-doc
    stats."""
    return sum(
        (F.regexp_count(text, F.lit(pat)) for _, pat, _ in PII_PATTERNS),
        F.lit(0),
    ).cast("long")


def pii_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII surface counts — the tagging half of the standard
    curation PII step (count first, decide policy, then redact): one
    ``regexp_count`` per pattern over the RAW text, each independent (an
    email with a digit-dashed local part counts as both email and phone
    here; :func:`pii_redact` resolves the overlap by order). Row-local
    JVM expressions over one pruned (doc_id, text) scan; the only
    exchanges are the few-large-files CPU-spread repartition
    (``_spread`` — redundant at real corpus scale, where the scan's own
    partitioning parallelizes) and the deterministic-output sort of the
    narrow counts frame — the same shape as the quality gate."""
    docs = _spread(load_table(spark, sf_dir, "documents"))
    counts = [
        F.regexp_count(F.col("text"), F.lit(pat)).cast("long").alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    return docs.select(
        "doc_id", *counts, _pii_total(F.col("text")).alias("n_pii")
    ).orderBy("doc_id")


def pii_redact_expr(text) -> "F.Column":
    """Each PII pattern replaced by its typed marker, applied in
    :data:`PII_PATTERNS` order (earlier redactions shield their spans
    from later patterns — markers contain no digits or ``@``) — THE
    shared redaction definition: the batch :func:`pii_redact` query and
    the streaming curation ingest's redaction stage must redact
    identically, so neither re-states the chain inline."""
    clean = text
    for _, pat, marker in PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, marker)
    return clean


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The redaction half: the shared :func:`pii_redact_expr` chain plus
    a changed flag; a row-local ``regexp_replace`` chain in whole-stage
    codegen, with the same two auxiliary exchanges as :func:`pii_stats`
    (spread + output sort)."""
    docs = _spread(load_table(spark, sf_dir, "documents"))
    clean = pii_redact_expr(F.col("text"))
    return docs.select(
        "doc_id",
        clean.alias("clean_text"),
        (clean != F.col("text")).alias("changed"),
    ).orderBy("doc_id")


def source_pii_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII exposure: total pattern hits, affected-document
    count, and affected share in per-mille — the provenance-level view a
    curation policy acts on (drop a source, route it through
    :func:`pii_redact`, or pass it). One |sources|-row partial-agg
    shuffle over :func:`pii_stats`' narrow counts frame; the per-doc
    regex work is the same single scan."""
    docs = _spread(load_table(spark, sf_dir, "documents"))
    per_doc = docs.select("source", _pii_total(F.col("text")).alias("n_pii"))
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_pii").alias("total_pii"),
            F.sum((F.col("n_pii") > 0).cast("long")).alias("docs_with_pii"),
        )
        .withColumn(
            "pii_doc_permille", permille_expr("docs_with_pii", "n_docs")
        )
        .orderBy("source")
    )


def winnow_stop_fps(
    spark: SparkSession, sf_dir: str, max_df: int = WINNOW_MAX_DF
) -> DataFrame:
    """The fingerprints the winnow df-cap drops, with their document
    frequencies — the no-silent-caps audit artifact (SCALE.md), the
    winnow twin of ``dedup.stop_shingles``: whatever
    :func:`winnow_dup_pairs`' capped default excludes is enumerable and
    auditable, never silently discarded."""
    return (
        winnow_index(spark, sf_dir)
        .groupBy("fp")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_df)
        .orderBy("fp")
    )


def lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-eval shape: the language-ID confusion matrix — per
    (labeled lang, predicted lang) counts and within-label share
    per-mille. The evaluation loop every curation classifier needs,
    expressed as two tiny aggregates over the scorer's output (the
    |langs x codes| rollup re-windows in place; raw docs shuffle once
    into the count)."""
    from pyspark.sql.window import Window

    cm = (
        lang_id(spark, sf_dir)
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("lang")
    return (
        cm.withColumn("lang_total", F.sum("n").over(w))
        .select(
            "lang",
            "pred_lang",
            "n",
            permille_expr("n", "lang_total").alias("share_permille"),
        )
        .orderBy("lang", "pred_lang")
    )


def unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model document scoring, integer-exact: a unigram LM is
    trained on the corpus itself and every document is scored by its mean
    token surprisal — the CCNet/RefinedWeb "perplexity bucket" signal
    without an external model. To keep the Spark and DuckDB results
    hash-identical, surprisal is quantized to whole bits via binary
    bit-length (bitlen(N) - bitlen(count) == floor-quantized
    -log2(count/N)) instead of floating-point ln — no transcendental
    functions, so no cross-engine rounding drift; the final mean is the
    usual exact-rational per-mille.

    Scale shape: token occurrences pre-aggregate to (doc_id, tok, k)
    map-side before any join; the LM itself is a partial-aggregated
    groupBy over tokens (vocabulary-sized, tiny relative to the corpus);
    the occurrences⋈vocab join hash-partitions both sides on ``tok`` and
    AQE will broadcast the vocab side when it fits. The corpus total is a
    1-row aggregate broadcast by crossJoin. Document bodies never
    shuffle; everything after the scan is counts."""
    docs = _spread(load_table(spark, sf_dir, "documents"))
    occ = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    # Pin the (doc_id, tok, k) frame ONCE and derive everything else
    # from it — the corpus vocabulary (re-aggregate), the corpus total
    # (one scalar sum), and the final scoring join. Unpinned, each
    # consumer replays the tokenize + explode corpus pass as its own
    # subtree (the bigram twin measured its slope riding on exactly
    # those replays — r6 slope work).
    per_doc_tok = (
        occ.groupBy("doc_id", "tok").agg(F.count("*").alias("k")).localCheckpoint(eager=False)
    )
    tot = per_doc_tok.agg(F.sum("k").cast("long").alias("n_total"))
    cnt = per_doc_tok.groupBy("tok").agg(F.sum("k").alias("cnt"))
    bits_tbl = cnt.crossJoin(F.broadcast(tot)).select(
        "tok",
        (F.length(F.bin(F.col("n_total"))) - F.length(F.bin(F.col("cnt"))))
        .cast("long")
        .alias("bits"),
    )
    return (
        per_doc_tok.join(bits_tbl, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_tokens"),
            F.sum(F.col("k") * F.col("bits")).cast("long").alias("total_surprisal_bits"),
            F.max("bits").cast("long").alias("max_token_bits"),
        )
        .withColumn(
            "mean_surprisal_millibits",
            mean_millis_expr("total_surprisal_bits", "n_tokens"),
        )
        .orderBy("doc_id")
    )


def mean_millis_expr(total: str, n: str, signed: bool = False) -> Column:
    """``round(1000 * total / n)`` as a pure-integer Column — THE
    engine's rounding convention, single-sourced: exact .5 ties go UP
    for non-negative totals (``(2000*t + n) DIV (2*n)``) and AWAY FROM
    ZERO when ``signed`` (DSIR scores can be negative). The DuckDB
    oracles and the tests' Python references (``tests/
    test_duplicate_spans._half_up``) spell the same formula; a float
    ``ROUND`` would agree on every non-tie but leaves the convention
    implicit, and Python's ``round()`` banker's-rounds the tie — the r5
    property-test flake this form exists to prevent.

    The ``2000 * total`` blow-up runs in DECIMAL, not BIGINT: a money
    total past ~4.6e15 (TPC-H revenue cents at a few-TB SF) would wrap
    the int64 product silently with ANSI off — the same overflow class
    the Z-order normalization was cured of (``_zorder_norm_expr``).
    DECIMAL(38,0) holds any int64 input (and any pre-widened composite
    product a caller passes) exactly, the *2000 product stays within 38
    digits for every realistic total, and decimal ``DIV`` is Spark's
    integral divide returning BIGINT, so the result type is unchanged.
    The DuckDB twin (``registry._mm_sql``) widens to HUGEINT for the
    same reason.

    CALLER contract for composite expressions: the cast here wraps the
    WHOLE expression, so a product like ``n_events * t_cnt`` still
    multiplies in BIGINT before the widening sees it — pre-widen one
    factor at the call site (``CAST(n_events AS DECIMAL(38,0)) *
    t_cnt``, HUGEINT on the oracle side) when the product can exceed
    int64."""
    t38 = f"CAST(({total}) AS DECIMAL(38,0))"
    n38 = f"CAST(({n}) AS DECIMAL(38,0))"
    up = f"(2000 * {t38} + {n38}) DIV (2 * {n38})"
    if not signed:
        return F.expr(up).cast("long")
    return F.expr(
        f"CASE WHEN {total} >= 0 THEN {up}"
        f" ELSE -((-2000 * {t38} + {n38}) DIV (2 * {n38})) END"
    ).cast("long")


def permille_expr(total: str, n: str) -> Column:
    """:func:`mean_millis_expr` with the ``n == 0 -> 0`` guard — the
    per-mille-ratio spelling every ratio column in the engine uses (the
    r6 verdict's consistency item: integer-only outputs, ONE rounding
    formula; ``registry._mm_sql`` is the DuckDB rendering)."""
    return (
        F.when(F.expr(n) > 0, mean_millis_expr(total, n))
        .otherwise(F.lit(0))
        .cast("long")
    )


#: Bigram-LM vocabulary floor: corpus bigrams with fewer than this many
#: occurrences are pruned from the model and their occurrences scored at
#: the OOV backoff cost (bit-length of the corpus bigram total — a
#: ~1/2N floor probability, strictly costlier than any kept bigram).
#: Zipf makes hapax bigrams ~half the distinct vocabulary in natural
#: text, so the floor halves the model table (the scoring join's build
#: side) without touching the per-document occurrence counts — the
#: 100 TB point is that the PRUNED model converges to a bounded
#: vocabulary and the scoring join stays broadcast while the corpus
#: grows. Part of the operator definition: the oracle prunes
#: identically (registry._BIGRAM_CTES).
BIGRAM_MIN_COUNT = 2


def bigram_zip(arr: Column) -> Column:
    """The ONE vectorized bigram constructor — arrays_zip of the token
    array against itself shifted by one (two slices, no higher-order
    lambda) — shared by :func:`bigram_surprisal` and the gram-hash
    collision audit (``dedup.gram_hash_collision_audit``), so the
    audited gram domain is BY CONSTRUCTION the domain the operator
    hashes, not a re-derivation that could drift. greatest(0, n-1)
    guards the slice length for 0/1-token docs (they emit no
    bigrams)."""
    pair_len = F.greatest(F.lit(0), F.size(arr) - 1)
    return F.arrays_zip(F.slice(arr, 1, pair_len), F.slice(arr, 2, pair_len))


def bigram_surprisal(
    spark: SparkSession, sf_dir: str, min_count: int = BIGRAM_MIN_COUNT
) -> DataFrame:
    """Conditional (bigram) LM document scoring — the sequence-level
    companion to :func:`unigram_surprisal`: a bigram LM is trained on
    the corpus itself and every document is scored by its mean
    P(tok | prev) surprisal. Low mean = templated/repetitive word
    SEQUENCES (boilerplate reads as predictable even when its
    individual words are not) — the CCNet-style perplexity-filter
    signal one level up from unigrams. Same integer-exactness
    convention: surprisal is floor-quantized to whole bits via binary
    bit-length (bitlen(context count) - bitlen(bigram count)), zero
    transcendentals, so Spark and DuckDB hash-match.

    Scale shape: bigrams are built ROW-LOCALLY (an element_at zip over
    the token array — no posexplode+lag window, so no doc-keyed
    shuffle); occurrences pre-aggregate map-side to (doc_id, bg, k);
    the LM is a bigram-vocabulary-sized groupBy, context counts re-
    aggregate the bigram counts (never the corpus), and AQE broadcasts
    the vocab side of the scoring join when it fits. The
    ``min_count`` vocabulary floor (BIGRAM_MIN_COUNT) prunes hapax
    bigrams from the model — roughly half the distinct vocabulary
    under Zipf — and scores their occurrences at the OOV backoff
    (bitlen of the corpus bigram total, a ~1/2N floor probability), so
    the scoring join's build side converges to a bounded vocabulary as
    the corpus grows instead of scaling with it. Documents with
    fewer than two tokens have no bigrams and are absent from the
    output, exactly as in the oracle. Docstring spec refs: the tokens()
    expression is the shared one (oracle prologue ``toks``)."""
    docs = _spread(load_table(spark, sf_dir, "documents"))
    arr = tokens(F.col("text"))
    # Bigram construction is fully VECTORIZED: arrays_zip of the token
    # array against itself shifted by one (two slices — no higher-order
    # lambda; a transform() with per-element hashing measured ~3 µs/elem
    # of interpreted-lambda overhead, 10.9 s vs 0.7 s for this shape at
    # the 10x corpus), and both the bigram and its context token are
    # hashed to 8-byte xxhash64 keys by whole-stage-codegen right after
    # the explode — no bigram string ever shuffles; the LM tables, the
    # context re-aggregation and the scoring join all move longs. The
    # DuckDB oracle keeps counting the strings — identical values
    # modulo 64-bit collisions. greatest(0, n-1) guards the slice
    # length for 0/1-token docs (they emit no bigrams, as in the
    # oracle).
    big = docs.select("doc_id", F.explode(bigram_zip(arr)).alias("p")).select(
        "doc_id",
        F.xxhash64(F.col("p")["0"], F.col("p")["1"]).alias("bgh"),
        F.xxhash64(F.col("p")["0"]).alias("ph"),
    )
    # Pin the (doc_id, bgh, ph, k) frame ONCE: it feeds the corpus count
    # table AND the final scoring join, and the OOV total adds a third
    # consumer — unpinned, each subtree replays the tokenize + bigram
    # explode corpus pass (measured: the whole op's scale slope rode on
    # the replays, not on any single pass).
    per_doc = (
        big.groupBy("doc_id", "bgh", "ph")
        .agg(F.count("*").alias("k"))
        .localCheckpoint(eager=False)
    )
    # corpus counts RE-AGGREGATE the per-doc frame (the oracle's shape:
    # bc2 sums bpdt) — aggregating `big` directly would re-run the
    # tokenize+explode scan as a second subtree in the same plan
    c2 = (
        per_doc.groupBy("bgh", "ph")
        .agg(F.sum("k").alias("cnt2"))
        .localCheckpoint(eager=False)
    )
    # OOV backoff cost: one row, from the full (pre-prune) count table
    tot = c2.agg(F.sum("cnt2").cast("long").alias("tot"))
    c2p = c2.filter(F.col("cnt2") >= min_count)
    c1 = c2p.groupBy("ph").agg(F.sum("cnt2").alias("cnt1"))
    bits_tbl = (
        c2p.join(c1, "ph")
        .select(
            "bgh",
            (F.length(F.bin(F.col("cnt1"))) - F.length(F.bin(F.col("cnt2"))))
            .cast("long")
            .alias("bits"),
        )
    )
    oov_bits = F.length(F.bin(F.col("tot"))).cast("long")
    eff_bits = F.coalesce(F.col("bits"), oov_bits)
    return (
        per_doc.join(bits_tbl, "bgh", "left")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_bigrams"),
            F.sum(F.col("k") * eff_bits).cast("long").alias(
                "total_surprisal_bits"
            ),
            F.max(eff_bits).cast("long").alias("max_bigram_bits"),
        )
        .withColumn(
            "mean_surprisal_millibits",
            mean_millis_expr("total_surprisal_bits", "n_bigrams"),
        )
        .orderBy("doc_id")
    )


def perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet-style perplexity-BUCKET decision over
    :func:`bigram_surprisal`: documents split into head / middle / tail
    at the corpus's exact 333/667-permille surprisal cuts — the step a
    curation pipeline actually acts on (keep head, sample middle, drop
    or re-route tail). With an in-corpus LM, LOW mean surprisal means
    typical/templated relative to this corpus (CCNet's wiki-LM polarity
    is external); the bucketing mechanism is polarity-neutral and the
    policy chooses the ends.

    Scale shape: the per-doc score frame is localCheckpointed once (it
    feeds both the cut derivation and the final assignment — without
    the pin Spark would run the whole bigram-LM lineage twice); cuts
    come from the SAME value-histogram exact-percentile trick as
    `doc_length_percentiles` (|distinct scores| histogram + cumulative
    window, never a global row sort) and broadcast back as one row."""
    from pyspark.sql.window import Window

    scores = (
        bigram_surprisal(spark, sf_dir)
        .select("doc_id", F.col("mean_surprisal_millibits").alias("s"))
        .localCheckpoint(eager=False)
    )
    hist = scores.groupBy("s").agg(F.count("*").alias("cnt"))
    w = Window.orderBy(F.col("s").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(w)).crossJoin(
        F.broadcast(scores.agg(F.count("*").alias("n")))
    )
    qs = F.explode(
        F.array(F.lit(333).cast("long"), F.lit(667).cast("long"))
    ).alias("q")
    pos = F.expr("(n - 1) * q DIV 1000 + 1")
    cuts = (
        cum.select("s", "cnt", "cum", "n", qs)
        .filter((F.col("cum") >= pos) & (F.col("cum") - F.col("cnt") < pos))
        .groupBy()
        .agg(
            F.max(F.when(F.col("q") == 333, F.col("s"))).alias("t1"),
            F.max(F.when(F.col("q") == 667, F.col("s"))).alias("t2"),
        )
    )
    return (
        scores.crossJoin(F.broadcast(cuts))
        .select(
            "doc_id",
            F.col("s").alias("mean_surprisal_millibits"),
            F.when(F.col("s") <= F.col("t1"), F.lit("head"))
            .when(F.col("s") <= F.col("t2"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
        .orderBy("doc_id")
    )


#: Pocket-perceptron trainer dials. Weights live on hashed shingle buckets
#: (binary presence features) plus one bias slot (= PERC_BUCKETS); eight
#: epochs with pocket selection beats the majority baseline on every test
#: corpus. Production dial: more buckets, same plan.
PERC_BUCKETS = 64
PERC_EPOCHS = 8


def _perc_features(spark: SparkSession, sf_dir: str, n_buckets: int):
    """(docs, feature-rows) for the perceptron family: binary hashed-
    shingle bucket indicators plus the bias slot ``n_buckets`` — ONE
    definition compiled by both the trainer and the held-out eval, so the
    two can never drift apart silently."""
    from .dedup import shingle_index  # deferred: dedup imports this module

    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_index(spark, sf_dir).select("doc_id", "sh")
    b = (F.conv(F.substring(F.md5(F.col("sh")), 1, 4), 16, 10) % n_buckets).cast(
        "long"
    )
    feats = (
        sh.select("doc_id", b.alias("b"))
        .distinct()
        .unionByName(
            docs.select("doc_id", F.lit(n_buckets).cast("long").alias("b"))
        )
    )
    return docs, feats


def _perc_fit(
    spark: SparkSession, feats: DataFrame, train_labels: DataFrame, epochs: int
):
    """The cost-sensitive pocket-perceptron loop (Gallant 1990), shared by
    :func:`perceptron_train` (fit on everything) and
    :func:`perceptron_eval` (fit on the train split only) so the two can
    never silently train different models. Returns the pocket weights and
    a ``margins_under(w, lab)`` scorer usable on any label frame.
    All-integer arithmetic; per epoch one margin pass, one |buckets|-row
    delta collect, one accuracy count — the Lloyd's round-trip pattern."""
    counts = train_labels.groupBy().agg(
        F.sum(F.when(F.col("y") > 0, 1).otherwise(0)).alias("n_pos"),
        F.sum(F.when(F.col("y") < 0, 1).otherwise(0)).alias("n_neg"),
    ).collect()[0]
    if counts["n_pos"] is None or counts["n_neg"] is None:
        raise ValueError(
            "perceptron: empty training label set — check the split/corpus"
        )
    if int(counts["n_pos"]) == 0 or int(counts["n_neg"]) == 0:
        # one class absent => the opposite class weight is 0, every
        # delta is y*0, and the loop would silently return a frozen
        # all-zero model that predicts -1 for everything
        raise ValueError(
            "perceptron: single-class training labels "
            f"(n_pos={counts['n_pos']}, n_neg={counts['n_neg']}) — "
            "nothing to separate"
        )
    cw = {1: int(counts["n_neg"]), -1: int(counts["n_pos"])}

    def margins_under(w: dict, lab: DataFrame) -> DataFrame:
        if not w:
            return lab.withColumn("margin", F.lit(0).cast("long"))
        wdf = spark.createDataFrame(
            [(int(k), int(v)) for k, v in sorted(w.items())], "b long, w long"
        )
        mg = (
            feats.join(F.broadcast(wdf), "b")
            .groupBy("doc_id")
            .agg(F.sum("w").cast("long").alias("margin"))
        )
        return lab.join(mg, "doc_id", "left").withColumn(
            "margin", F.coalesce(F.col("margin"), F.lit(0)).cast("long")
        )

    w: dict[int, int] = {}
    best_acc, best_w = -1, {}
    for _ in range(epochs):
        md = margins_under(w, train_labels)
        mis = md.filter(F.col("y") * F.col("margin") <= 0).select("doc_id", "y")
        delta = (
            feats.join(mis, "doc_id")
            .groupBy("b")
            .agg(
                F.sum(
                    F.col("y")
                    * F.when(F.col("y") > 0, F.lit(cw[1])).otherwise(F.lit(cw[-1]))
                ).alias("d")
            )
            .collect()
        )
        for r in delta:
            w[int(r["b"])] = w.get(int(r["b"]), 0) + int(r["d"])
        acc = (
            margins_under(w, train_labels)
            .filter(F.col("y") * F.col("margin") > 0)
            .count()
        )
        if acc > best_acc:  # strict: earliest epoch wins ties
            best_acc, best_w = acc, dict(w)
    return best_w, margins_under


def perceptron_train(
    spark: SparkSession,
    sf_dir: str,
    n_buckets: int = PERC_BUCKETS,
    epochs: int = PERC_EPOCHS,
) -> DataFrame:
    """Train a linear quality classifier IN the engine — the trainer that
    `quality_classifier`'s deterministic stand-in weights promised. The
    algorithm is the cost-sensitive batch perceptron with pocket
    selection (Gallant 1990): per epoch every misclassified document
    contributes y·class_weight·x to the weight update (class weight =
    size of the opposite class, so the rare class pushes as hard as the
    common one), and the final model is the epoch snapshot with the best
    training accuracy (earliest epoch on ties) — the classic fix for
    batch-perceptron oscillation. Features are binary hashed-shingle
    bucket indicators plus a bias; labels come from the engine's own
    quality gate, so the whole computation is a pure function of the
    corpus. All-integer arithmetic makes training bit-reproducible and
    the DuckDB oracle (epochs unrolled as generated CTEs) hash-identical
    — the same treatment as the unrolled Lloyd's k-means. Measured
    training accuracy 0.97-0.99 vs 0.90-0.93 majority baseline on the
    test corpora. Output: per-document margin, prediction, and
    correctness under the pocket weights.

    Scale shape: see :func:`_perc_fit` — k-row driver traffic per epoch;
    feature rows build once and are reused across epochs."""
    from ..cache import pins

    docs, fplan = _perc_features(spark, sf_dir, n_buckets)
    labels = docs.select(
        "doc_id",
        F.when(gate_reason("text") == "ok", F.lit(1))
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("y"),
    )
    with pins() as pin:
        feats = pin(fplan)
        best_w, margins_under = _perc_fit(spark, feats, labels, epochs)
        final = margins_under(best_w, labels)
        out = final.select(
            "doc_id",
            F.col("y").alias("label"),
            "margin",
            F.when(F.col("margin") > 0, F.lit(1))
            .otherwise(F.lit(-1))
            .cast("long")
            .alias("pred"),
            (F.col("y") * F.col("margin") > 0).alias("correct"),
        ).orderBy("doc_id")
        # materialize BEFORE the scope releases feats: the returned
        # frame is lazy, and evaluating it after the unpersist would
        # recompute the whole feature build for the final scoring pass
        return out.localCheckpoint()


def perceptron_eval(
    spark: SparkSession,
    sf_dir: str,
    n_buckets: int = PERC_BUCKETS,
    epochs: int = PERC_EPOCHS,
    salt: str = "v1",
    val_permille: int = 100,
) -> DataFrame:
    """The held-out evaluation protocol for :func:`perceptron_train`:
    fit the pocket perceptron on the TRAIN side of the deterministic
    md5-bucket split only (same rule as ``split_assignment``), then score
    BOTH splits under the pocket weights and report per-split accuracy —
    the generalization-gap row an ML pipeline actually gates on, not
    training accuracy. Identical integer machinery, so the generated
    DuckDB oracle stays hash-exact."""
    from ..cache import pins
    from .sampling import _bucket

    docs, fplan = _perc_features(spark, sf_dir, n_buckets)
    labels = docs.select(
        "doc_id",
        F.when(gate_reason("text") == "ok", F.lit(1))
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("y"),
        (_bucket(F.col("doc_id"), salt) < val_permille).alias("is_val"),
    )
    tr = labels.filter(~F.col("is_val")).select("doc_id", "y")
    with pins() as pin:
        feats = pin(fplan)
        best_w, margins_under = _perc_fit(spark, feats, tr, epochs)
        scored = margins_under(best_w, labels)
        return (
            scored.withColumn(
                "split",
                F.when(F.col("is_val"), F.lit("val")).otherwise(F.lit("train")),
            )
            .groupBy("split")
            .agg(
                F.count("*").cast("long").alias("n_docs"),
                F.sum(
                    F.when(F.col("y") * F.col("margin") > 0, 1).otherwise(0)
                )
                .cast("long")
                .alias("n_correct"),
            )
            .withColumn(
                "acc_permille", permille_expr("n_correct", "n_docs")
            )
            .orderBy("split")
            # two-row result: checkpoint is free, and it must not lazily
            # re-run the feature build after the scope releases feats
            .localCheckpoint()
        )


#: Number of BPE merge steps the trainer learns. Enough to see real
#: multi-character symbols emerge on the test vocabulary; the unrolled
#: oracle stays readable. Production dial: thousands of steps, same plan
#: per step.
BPE_MERGES = 6


def bpe_merges(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGES
) -> DataFrame:
    """Train a BPE tokenizer IN the engine (Sennrich et al. 2016): start
    from characters, repeatedly merge the globally most frequent adjacent
    symbol pair (ties broken lexicographically — fully deterministic).
    Training runs on the distinct-word/frequency table, the classic BPE
    formulation, with each word held as a bracketed symbol string
    (``[c][a][t]``) so merge application is an exact literal
    ``replace('[c][a]' -> '[ca]')`` — leftmost non-overlapping, the
    greedy BPE apply rule, with identical semantics in Spark and DuckDB.
    Output: one row per merge step (left, right, merged symbol, corpus
    pair count at selection time).

    Scale shape: the word/frequency table is one partial-aggregated
    groupBy over token occurrences (vocabulary-sized); each merge step is
    one pair-explode + count aggregate and a 1-row argmax collect (the
    Lloyd's/perceptron round-trip pattern); merge application is a
    row-local string replace — no shuffle. Step count bounds the loop,
    not corpus size."""
    merges, _ = bpe_fit_for(spark, sf_dir, n_merges)
    return spark.createDataFrame(
        merges, "step long, left string, right string, merged string, pair_count long"
    ).orderBy("step")


def bpe_fit_for(spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGES):
    """The fitted BPE tokenizer as a session index: ``bpe_merges`` (the
    trainer's report) and ``bpe_apply`` (the corpus-wide application)
    both consume the same fit, and the fit is the expensive part — a
    loop of pair-count aggregates with a 1-row collect each. Memoized
    per (session, corpus, n_merges) like the shingle/minhash/k-means
    indexes, so running both registry queries trains once."""
    from ..cache import get_or_build

    def build() -> tuple:
        docs = _spread(load_table(spark, sf_dir, "documents"))
        wfreq = (
            docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
            .groupBy("tok")
            .agg(F.count("*").alias("f"))
        )
        rep = wfreq.select(
            "tok", "f", F.regexp_replace("tok", "(.)", "[$1]").alias("rep")
        )
        return _bpe_fit(rep, n_merges)

    return get_or_build(f"bpe_fit_{n_merges}", spark, sf_dir, build)


def _bpe_fit(rep: DataFrame, n_merges: int):
    """The shared BPE fitting loop: returns (merge list, final symbol
    table). Each step is one pair-count aggregate + a 1-row argmax
    collect; merge application is a row-local literal replace."""
    # Pin the word/frequency table ONCE before the loop: it is
    # vocabulary-sized (one row per distinct token), but its lineage is
    # the corpus-sized occurrence explode + groupBy — unpinned, every
    # step's pair aggregate replays that corpus pass (n steps = n corpus
    # scans; the whole bpe_train scale slope rode on this). Pinned, the
    # corpus is read once and each merge step is vocabulary-sized work.
    # The per-step replace chain stays lazy on top — row-local string
    # edits over the pinned rows, nothing worth truncating.
    rep = rep.localCheckpoint(eager=False)
    merges = []
    for step in range(1, n_merges + 1):
        syms = F.split(
            F.expr("substring(rep, 2, length(rep) - 2)"), r"\]\["
        )
        s = F.col("s")
        pairs = (
            rep.select("f", syms.alias("s"))
            # single-symbol words carry no pairs — and Spark's
            # sequence(1, 0) DESCENDS rather than being empty
            .filter(F.size(s) >= 2)
            .select(
                "f",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size(s) - 1),
                        lambda i: F.struct(
                            F.element_at(s, i).alias("l"),
                            F.element_at(s, i + 1).alias("r"),
                        ),
                    )
                ).alias("p"),
            )
            .select("f", F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        )
        top = (
            pairs.groupBy("l", "r")
            .agg(F.sum("f").cast("long").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, cnt = top[0]["l"], top[0]["r"], int(top[0]["cnt"])
        merges.append((step, l, r, l + r, cnt))
        rep = rep.withColumn(
            "rep",
            F.replace(
                F.col("rep"),
                F.lit(f"[{l}][{r}]"),
                F.lit(f"[{l}{r}]"),
            ),
        )
    return merges, rep


def bpe_apply(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGES
) -> DataFrame:
    """Apply the learned BPE merges corpus-wide and report the per-doc
    compression effect: characters vs BPE pieces per document under the
    ``n_merges``-rule tokenizer trained by :func:`bpe_merges`. Piece
    counting is a row-local bracket count over the final symbol table,
    joined to token occurrences by word — the tokenizer table is
    vocabulary-sized and broadcasts. Rides the memoized
    :func:`bpe_fit_for` session index, so a session that already trained
    (``corpus_bpe_merges``) applies without re-fitting."""
    docs = _spread(load_table(spark, sf_dir, "documents"))
    _, rep = bpe_fit_for(spark, sf_dir, n_merges)
    pieces = rep.select(
        "tok",
        (
            F.length("rep") - F.length(F.replace(F.col("rep"), F.lit("["), F.lit("")))
        )
        .cast("long")
        .alias("np"),
    )
    occ = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    return (
        occ.join(F.broadcast(pieces), "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.length("tok")).cast("long").alias("n_chars"),
            F.sum("np").cast("long").alias("n_pieces"),
        )
        .withColumn(
            "pieces_per_kchar", permille_expr("n_pieces", "n_chars")
        )
        .orderBy("doc_id")
    )


#: Count-min sketch geometry (Cormode & Muthukrishnan 2005). depth×width
#: cells is the WHOLE sketch state — 4×512 longs here; at 100 TB you widen
#: the row, you never grow with the vocabulary.
CMS_DEPTH = 4
CMS_WIDTH = 512
CMS_TOP = 20


def _cms_col(tok: Column, j: Column) -> Column:
    """Row-``j`` counter column for a token: 32 md5 bits mod CMS_WIDTH —
    the same engine-portable md5 hashing every sketch here uses."""
    h = F.md5(F.concat(tok, F.lit("#cms"), j.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % CMS_WIDTH


def cms_cells_from_counts(tok_counts: DataFrame) -> DataFrame:
    """depth×width cell counts over a pre-aggregated ``(tok, n)`` token
    frequency frame — the r10-optimized core of :func:`cms_cells`: the
    depth md5 probes are computed once per DISTINCT token (vocabulary-
    sized) instead of once per occurrence, and the cell count is the SUM
    of the token counts landing in the cell — cell-identical by the
    commutativity of the sum, at 1/(mean token frequency) of the hash
    work (guide §2.3: aggregate before the expensive per-row step)."""
    js = F.array([F.lit(j) for j in range(CMS_DEPTH)])
    return (
        tok_counts.select("tok", "n", F.explode(js).alias("j"))
        .select("n", "j", _cms_col(F.col("tok"), F.col("j")).alias("col"))
        .groupBy("j", "col")
        .agg(F.sum("n").cast("long").alias("cell_n"))
    )


def cms_cells(occ: DataFrame) -> DataFrame:
    """depth×width cell counts over a token-occurrence frame (any frame
    with a ``tok`` column, one row per occurrence) — the shared
    sketch-build kernel of the batch :func:`token_cms_topk` AND the
    streaming ``StreamingCmsIngest`` (whose per-batch deltas use exactly
    these expressions, so stream-merged and batch-built sketches are
    cell-identical). Since r10 the occurrence frame pre-aggregates to
    (tok, n) frequencies before the depth-way md5 explode — the md5s run
    per distinct token, not per occurrence, and the partial-aggregated
    (j, col) groupBy still emits at most depth·width cells per task
    regardless of input size. Cell values are unchanged (sum of per-token
    counts ≡ count of occurrence rows per cell)."""
    return cms_cells_from_counts(
        occ.groupBy("tok").agg(F.count("*").cast("long").alias("n"))
    )


def token_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimates for the corpus's top tokens —
    the fixed-memory frequency sketch (Cormode & Muthukrishnan 2005) that
    answers "how often does this token appear?" without carrying the
    vocabulary: depth hash rows × width counters, estimate = min over
    rows, error one-sided (never an underestimate).

    This op keeps the exact counts alongside the sketch on purpose: it is
    the *calibration* view (top-k exact vs sketch, per-token
    overestimate) that tells an operator whether the chosen geometry is
    tight enough before the exact side becomes unaffordable. The sketch
    build itself is the 100 TB path: groupBy (row, col) over the token
    stream with map-side partial aggregation means each task emits AT
    MOST depth·width cells regardless of input size — the sketch property,
    expressed as an ordinary partial-aggregated shuffle. Merging sketches
    across partitions/days is cell-wise addition, which is exactly what
    the partial aggregate already does.

    Everything is md5-derived and integer, so the DuckDB oracle matches
    hash-for-hash (the `cms_n >= exact_n` one-sidedness is also asserted
    in tests)."""
    docs = load_table(spark, sf_dir, "documents")
    occ = _spread(docs).select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    js = F.array([F.lit(j) for j in range(CMS_DEPTH)])
    # ONE tokenize + aggregate pass feeds BOTH the sketch build and the
    # exact top-k (r10: the two sides previously re-tokenized the corpus
    # as independent subtrees); the pinned frame is vocabulary-sized.
    tok_counts = (
        occ.groupBy("tok").agg(F.count("*").cast("long").alias("n")).localCheckpoint(eager=False)
    )
    cells = cms_cells_from_counts(tok_counts)
    cnt = tok_counts.select("tok", F.col("n").alias("exact_n"))
    top = cnt.orderBy(F.desc("exact_n"), F.asc("tok")).limit(CMS_TOP)
    probes = top.select(
        "tok", "exact_n", F.explode(js).alias("j")
    ).withColumn("col", _cms_col(F.col("tok"), F.col("j")))
    return (
        probes.join(F.broadcast(cells), ["j", "col"])
        .groupBy("tok", "exact_n")
        .agg(F.min("cell_n").cast("long").alias("cms_n"))
        .select(
            "tok",
            "exact_n",
            "cms_n",
            (F.col("cms_n") - F.col("exact_n")).cast("long").alias("overestimate"),
        )
        .orderBy(F.desc("exact_n"), F.asc("tok"))
    )
