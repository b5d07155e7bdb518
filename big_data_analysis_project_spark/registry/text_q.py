"""Text-analysis operators over the documents table (Phase E,
north-star extensions): token counting, quality scoring, language-ID
heuristic, document fingerprinting.

All JVM-side built-ins (split/regexp/md5/aggregate) — no Python UDFs —
so each is a narrow single-pass map that scales linearly. The
whitespace and ASCII-word token rules, and why they read the same in
Java regex (Spark) and RE2 (DuckDB), are in ``functions/text.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    STOPWORDS,
    WS_CLASS,
    WS_RUN,
    sql_word_hits,
    sql_ws_count,
    sql_ws_split,
    word_hits,
    word_split,
    ws_count,
    ws_split,
)
from ..sources.readers import load_table

from ._base import make_registry

QUERIES, ORACLE, q = make_registry()


# BPE-ish pre-tokenizer: letter runs | digit runs | single punctuation
_BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


@q(
    "text_tokens",
    f"""SELECT doc_id,
              {sql_ws_count()} AS n_ws_tokens,
              len(regexp_extract_all(text, '{_BPE_RE}')) AS n_bpe_tokens
       FROM documents""",
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex pre-token
    count (letters / digits / punct singles)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        ws_count("text").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), 0)).alias("n_bpe_tokens"),
    )


@q(
    "text_quality",
    f"""SELECT doc_id,
              length(text) AS n_chars_measured,
              {sql_ws_count()} AS n_words,
              ROUND(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
                    / length(text), 4) AS punct_ratio,
              ROUND(CAST({sql_word_hits(STOPWORDS)} AS DOUBLE)
                    / {sql_ws_count()}, 4) AS stopword_ratio
       FROM documents WHERE length(text) > 0""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length, punctuation ratio, stopword ratio —
    the standard cheap pre-training quality filters."""
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    n_words = ws_count("text")
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_measured"),
        n_words.alias("n_words"),
        F.round(
            F.length(F.regexp_replace("text", "[^.,;:!?]", "")).cast("double")
            / F.length("text"),
            4,
        ).alias("punct_ratio"),
        F.round(
            word_hits(F.col("text"), STOPWORDS).cast("double") / n_words,
            4,
        ).alias("stopword_ratio"),
    )


# language-ID heuristic: score stopword families per language. The
# synthetic corpus is English-vocabulary, so the point is determinism
# of the classifier, not linguistic accuracy.
_EN_WORDS = ("the", "and", "of", "is", "a")
_DE_WORDS = ("der", "die", "das", "und", "ist")
_ES_WORDS = ("el", "la", "los", "y", "es")


@q(
    "text_langid",
    f"""SELECT doc_id,
              CASE
                WHEN {sql_word_hits(_EN_WORDS)} >=
                     greatest({sql_word_hits(_DE_WORDS)},
                              {sql_word_hits(_ES_WORDS)}, 1) THEN 'en'
                WHEN {sql_word_hits(_DE_WORDS)} >=
                     greatest({sql_word_hits(_ES_WORDS)}, 1) THEN 'de'
                WHEN {sql_word_hits(_ES_WORDS)} >= 1 THEN 'es'
                ELSE 'unknown' END AS lang_pred
       FROM documents""",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID via stopword-family scoring (n-gram heuristic
    class; real models plug in as a pandas UDF without changing the
    plan shape). Tokenize ONCE into an intermediate array column and
    count membership per family over it — the split is the dominant
    per-row cost and Catalyst does not CSE it across the three
    word_hits copies or the repeated CASE branches."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", word_split(F.col("text")).alias("w"))

    def hits(words: tuple[str, ...]):
        return F.size(F.filter("w", lambda t: t.isin(*words)))

    scored = toks.select(
        "doc_id",
        hits(_EN_WORDS).alias("en"),
        hits(_DE_WORDS).alias("de"),
        hits(_ES_WORDS).alias("es"),
    )
    return scored.select(
        "doc_id",
        F.when(
            F.col("en") >= F.greatest("de", "es", F.lit(1)), "en"
        )
        .when(F.col("de") >= F.greatest("es", F.lit(1)), "de")
        .when(F.col("es") >= 1, "es")
        .otherwise("unknown")
        .alias("lang_pred"),
    )


@q(
    "text_fingerprint",
    f"""SELECT doc_id,
              md5(regexp_replace(lower(trim(text, ' ')), '{WS_RUN}', ' ', 'g')) AS fingerprint,
              list_reduce(
                list_prepend(CAST(0 AS BIGINT),
                             list_transform(string_split(regexp_replace(lower(trim(text, ' ')), '{WS_RUN}', ' ', 'g'), ''),
                                            c -> CAST(ascii(c) AS BIGINT))),
                (acc, x) -> (acc * 31 + x) % 1000000007) AS rolling_hash
       FROM documents""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of whitespace-normalized text plus
    a 31-polynomial rolling hash (the canonical content-defined
    fingerprint primitive) — both pure JVM expressions."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), WS_RUN, " ")
    rolling = F.aggregate(
        F.split(norm, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % 1000000007,
    )
    return d.select(
        "doc_id",
        F.md5(F.encode(norm, "UTF-8")).alias("fingerprint"),
        rolling.alias("rolling_hash"),
    )


@q(
    "corpus_prep_report",
    f"""WITH quality AS (
         SELECT doc_id, text, lang,
                {sql_ws_count()} AS n_words
         FROM documents WHERE length(text) > 0
       ),
       kept AS (SELECT * FROM quality WHERE n_words BETWEEN 20 AND 80),
       uniq AS (
         SELECT md5(text) AS h, MIN(doc_id) AS keep_id,
                CAST(COUNT(*) AS BIGINT) AS n_copies,
                MIN(lang) AS lang, MIN(n_words) AS n_words
         FROM kept GROUP BY 1
       )
       SELECT lang,
              CAST(COUNT(*) AS BIGINT) AS n_unique_docs,
              CAST(SUM(n_copies) AS BIGINT) AS n_docs_incl_dups,
              CAST(SUM(n_words) AS BIGINT) AS total_words
       FROM uniq GROUP BY lang""",
)
def corpus_prep_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus preparation, composed from the
    family's building blocks: length/word-count quality gate -> exact
    dedup on a content hash (keep min doc_id) -> per-language corpus
    report. This is the summary a data curator reads before a training
    run — and the whole flow is two shuffles (hash groupBy, lang
    groupBy) regardless of corpus size; the quality gate prunes before
    the first shuffle so junk never crosses the wire.

    The testdata carries exact duplicates only at sf0.1 (8 docs), so
    n_docs_incl_dups > n_unique_docs there; at sf0.01 the dedup stage
    passes everything through (still compared exactly)."""
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    quality = d.select(
        "doc_id",
        "text",
        "lang",
        ws_count("text").alias("n_words"),
    ).filter(F.col("n_words").between(20, 80))
    uniq = quality.groupBy(
        F.md5(F.encode("text", "UTF-8")).alias("h")
    ).agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.min("lang").alias("lang"),
        F.min("n_words").alias("n_words"),
    )
    return uniq.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_unique_docs"),
        F.sum("n_copies").alias("n_docs_incl_dups"),
        F.sum("n_words").alias("total_words"),
    )


@q(
    "text_top_terms",
    f"""SELECT doc_id, term, tf, rank FROM (
         SELECT doc_id, term, tf,
                CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                        ORDER BY tf DESC, term) AS INT) AS rank
         FROM (
           SELECT doc_id, t AS term, COUNT(*) AS tf
           FROM (
             SELECT doc_id, UNNEST({sql_ws_split(lower=True)}) AS t
             FROM documents
           ) WHERE len(t) >= 4
           GROUP BY doc_id, t
         )
       ) WHERE rank <= 3""",
)
def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by term frequency
    (terms < 4 chars dropped as stopword-ish noise; lexicographic
    tie-break keeps the pick deterministic). One shuffle to count
    (doc, term) pairs and a doc-partitioned window — no global
    ordering anywhere, so the plan is embarrassingly parallel at any
    corpus size. Integer counts only: no TF-IDF float scoring in the
    oracle-checked surface (the log/division variant lives one
    withColumn away, but would split engines on last-ulp ties)."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(
            "doc_id",
            F.explode(ws_split("text", lower=True)).alias("term"),
        )
        .filter(F.length("term") >= 4)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tf"), "term")
    return (
        tf.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )


# LLM-training chunking: 32-token chunks, stride 24 (8-token overlap)
_CHUNK, _STRIDE = 32, 24


@q(
    "text_chunk",
    f"""WITH toks AS (
         SELECT doc_id, {sql_ws_split()} AS w
         FROM documents WHERE length(text) > 0
       )
       SELECT doc_id,
              CAST((start - 1) // {_STRIDE} AS INT) AS chunk_idx,
              CAST(least({_CHUNK}, len(w) - start + 1) AS INT) AS n_chunk_tokens,
              array_to_string(w[start : least(start + {_CHUNK} - 1, len(w))], ' ') AS chunk
       FROM toks, UNNEST(range(1, len(w) + 1, {_STRIDE})) AS t(start)""",
)
def text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping token chunking — the core LLM-training
    prep op (context-window packing input). Each doc explodes into
    ceil(n/stride) chunks of <=32 whitespace tokens with an 8-token
    overlap; chunk text is re-joined so downstream tokenizers see
    plain strings. Pure JVM (split/sequence/explode/slice): a narrow
    1-to-N flatMap with no shuffle — at 100 TB this is a map-only
    stage whose output partitioning follows the input's."""
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    df = d.select("doc_id", ws_split("text").alias("w")).select(
        "doc_id",
        "w",
        F.explode(F.sequence(F.lit(1), F.size("w"), F.lit(_STRIDE))).alias("start"),
    )
    return df.select(
        "doc_id",
        F.floor((F.col("start") - 1) / _STRIDE).cast("int").alias("chunk_idx"),
        F.least(F.lit(_CHUNK), F.size("w") - F.col("start") + 1)
        .cast("int")
        .alias("n_chunk_tokens"),
        F.array_join(F.slice("w", F.col("start"), _CHUNK), " ").alias("chunk"),
    )


@q(
    "text_repetition",
    f"""WITH t AS (
         SELECT doc_id, {sql_ws_split(lower=True)} AS w
         FROM documents WHERE length(text) > 0
       ), b AS (
         SELECT doc_id, [w[i] || ' ' || w[i+1] for i in range(1, len(w))] AS bi
         FROM t WHERE len(w) >= 2
       )
       SELECT doc_id,
              CAST(len(bi) AS BIGINT) AS n_bigrams,
              CAST(len(list_distinct(bi)) AS BIGINT) AS n_distinct_bigrams,
              CAST(len(bi) - len(list_distinct(bi)) AS BIGINT) AS n_dup_bigrams
       FROM b""",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition scoring (Gopher-style quality rule): duplicate word
    bigram counts per document — high duplicate-bigram fraction flags
    boilerplate/spam before training. Integer counts only (the ratio
    is one exact division away downstream; emitting it here would pit
    Spark's half-away rounding against DuckDB's half-even on ties).
    Bigrams are built with transform() over an index sequence —
    JVM-side, no UDF, no shuffle."""
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    df = (
        d.select("doc_id", ws_split("text", lower=True).alias("w"))
        .filter(F.size("w") >= 2)
        .withColumn(
            "bi",
            F.expr(
                "transform(sequence(1, size(w)-1),"
                " i -> concat(element_at(w, i), ' ', element_at(w, i+1)))"
            ),
        )
    )
    n, nd = F.size("bi"), F.size(F.array_distinct("bi"))
    return df.select(
        "doc_id",
        n.cast("long").alias("n_bigrams"),
        nd.cast("long").alias("n_distinct_bigrams"),
        (n - nd).cast("long").alias("n_dup_bigrams"),
    )


_CONTAM_EVAL_MAX_ID = 20  # docs below this id play the held-out eval set
_CONTAM_MIN_SHARED = 3  # >=3 shared 3-gram shingles => contaminated


@q(
    "text_contamination",
    f"""WITH words AS (SELECT doc_id, {sql_ws_split(lower=True)} AS w
                       FROM documents),
       sh AS (SELECT doc_id,
                     unnest(list_transform(range(1, len(w) - 1),
                                           i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS s
              FROM words WHERE len(w) >= 3),
       ev AS (SELECT doc_id AS eval_doc, s FROM sh WHERE doc_id < {_CONTAM_EVAL_MAX_ID}),
       tr AS (SELECT doc_id AS train_doc, s FROM sh WHERE doc_id >= {_CONTAM_EVAL_MAX_ID})
       SELECT train_doc, eval_doc, CAST(COUNT(DISTINCT tr.s) AS BIGINT) AS n_shared
       FROM tr JOIN ev ON tr.s = ev.s
       GROUP BY train_doc, eval_doc
       HAVING COUNT(DISTINCT tr.s) >= {_CONTAM_MIN_SHARED}""",
)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark DECONTAMINATION: find training documents sharing >=
    _CONTAM_MIN_SHARED distinct 3-gram word shingles with any held-out
    eval document (here: the _CONTAM_EVAL_MAX_ID smallest doc_ids
    stand in for the benchmark set). The op every serious pretraining
    pipeline runs before training — eval questions leaking into the
    corpus inflate benchmarks silently.

    Scale shape: the eval side is tiny by construction (a benchmark is
    KBs, the corpus is TBs), so it BROADCASTS and the whole check is
    one map-side join over the corpus shingle stream plus one groupBy
    on the surviving (train, eval) pairs — no corpus self-join, no
    shuffle of the corpus text. Shingles stay inline (no
    materialization); at 100 TB you'd hash them (crc32, as the
    minhash path does) to shrink the broadcast and the groupBy keys."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", ws_split("text", lower=True).alias("w")).filter(
        F.size("w") >= 3
    )
    sh = w.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("w") - 3),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at("w", i + 1),
                    F.element_at("w", i + 2),
                    F.element_at("w", i + 3),
                ),
            )
        ).alias("s"),
    )
    ev = sh.filter(F.col("doc_id") < _CONTAM_EVAL_MAX_ID).select(
        F.col("doc_id").alias("eval_doc"), "s"
    )
    tr = sh.filter(F.col("doc_id") >= _CONTAM_EVAL_MAX_ID).select(
        F.col("doc_id").alias("train_doc"), "s"
    )
    return (
        tr.join(F.broadcast(ev), "s")
        .groupBy("train_doc", "eval_doc")
        .agg(F.count_distinct("s").alias("n_shared"))
        .filter(F.col("n_shared") >= _CONTAM_MIN_SHARED)
    )


# PII patterns chosen to mean the same thing in Java regex (Spark) and
# RE2 (DuckDB): no \d / \b / lookarounds, char-class-only, no bounded
# quantifiers
_EMAIL_RE = "[A-Za-z0-9._]+@[A-Za-z0-9.-]+[.][A-Za-z]+"
_PHONE_RE = "[+][0-9][0-9-]+[0-9]"


@q(
    "text_pii_scrub",
    f"""WITH pii AS (
         SELECT doc_id,
                text || ' Contact user' || CAST(doc_id AS VARCHAR)
                     || '@example.com or +1-555-01'
                     || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                     || ' now.' AS t
         FROM documents
       )
       SELECT doc_id,
              len(regexp_extract_all(t, '{_EMAIL_RE}')) AS n_emails,
              len(regexp_extract_all(t, '{_PHONE_RE}')) AS n_phones,
              md5(regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                                 '{_PHONE_RE}', '<PHONE>', 'g')) AS scrub_md5
       FROM pii""",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the compliance gate every training-data pipeline
    runs before anything else: emails and phone numbers replaced with
    typed placeholders, per-doc match counts emitted for the audit
    trail. Pure JVM regexp_replace/regexp_extract_all, one narrow map —
    scales like a scan, and at 100 TB this is exactly the op you cannot
    afford to run through a Python UDF.

    The synthetic corpus carries no PII, so a deterministic
    PII-bearing suffix (email + E.164-ish phone derived from doc_id)
    is injected identically on both engines first — the scrub then has
    a guaranteed non-vacuous match set, and the md5 of the SCRUBBED
    text pins the actual redaction output, not just the counts."""
    d = load_table(spark, sf_dir, "documents")
    pii = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" Contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            F.lit(" now."),
        ).alias("t"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace("t", _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return pii.select(
        "doc_id",
        F.size(F.regexp_extract_all("t", F.lit(_EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all("t", F.lit(_PHONE_RE), 0)).alias("n_phones"),
        F.md5(scrubbed).alias("scrub_md5"),
    )


@q(
    "corpus_mix_balance",
    """WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
       m AS (SELECT MIN(n) AS m FROM counts),
       ranked AS (
         SELECT doc_id, lang,
                ROW_NUMBER() OVER (PARTITION BY lang
                                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
         FROM documents
       )
       SELECT doc_id, lang, rk FROM ranked, m WHERE rk <= m.m""",
)
def corpus_mix_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture balancing — the data-mixing step of a training-data
    pipeline: every language downsampled to the SMALLEST language's
    size, so the corpus mixture is uniform. Selection is a
    deterministic pseudo-random rank (md5 of doc_id orders each
    language's docs) so the sample is reproducible across runs and
    engines — no RNG, no seed drift.

    Scale shape: one window shuffle partitioned by lang. Language
    cardinality is small, so at 100 TB the big languages skew their
    partitions; the production variant broadcasts per-language keep
    RATES (m/n_lang) and filters md5(doc_id) under the rate threshold —
    one narrow pass, no per-group sort — trading exact counts for
    binomial-exact ones. The rank-exact form here is the oracle-able
    contract both implement."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    mmin = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.min("n").alias("m"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.withColumn("rk", F.row_number().over(w))
        .crossJoin(F.broadcast(mmin))
        .filter(F.col("rk") <= F.col("m"))
        .select("doc_id", "lang", "rk")
    )


@q(
    "text_familiarity",
    f"""WITH t AS (
         SELECT doc_id, {sql_ws_split(lower=True)} AS w
         FROM documents WHERE length(text) > 0
       ),
       b AS (
         SELECT doc_id, w[i] || ' ' || w[i+1] AS bg
         FROM t, LATERAL unnest(range(1, len(w))) AS u(i)
         WHERE len(w) >= 2
       ),
       cf AS (SELECT bg, COUNT(*) AS corpus_n FROM b GROUP BY bg)
       SELECT b.doc_id,
              COUNT(*) AS n_bigrams,
              CAST(SUM(cf.corpus_n) AS BIGINT) AS familiarity
       FROM b JOIN cf USING (bg)
       GROUP BY b.doc_id""",
)
def text_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model-free fluency proxy (the KenLM-perplexity slot in
    a quality pipeline, kept integer-exact): each document's bigrams
    are scored by their CORPUS frequency and summed — boilerplate
    scores high, garbled or off-distribution text scores near its own
    bigram count (every bigram seen ~once). The caller derives
    familiarity/n_bigrams; emitting the exact integers keeps the
    oracle hash-exact where a log-probability would be float soup.

    Plan shape: bigram explode -> self-frequency via one hash
    aggregate -> shuffle join back on the bigram key -> per-doc sum.
    The join is the real cost at 100 TB and is exactly the shape you
    want: keyed on bigram, combiner-friendly on both sides, no
    driver-side vocabulary (the corpus LM 'model' stays distributed).
    Heavy-hitter bigrams skew the join — the salting pattern
    join_salted demonstrates applies directly."""
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    bi = (
        d.select("doc_id", ws_split("text", lower=True).alias("w"))
        .filter(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w)-1),"
                    " i -> concat(element_at(w, i), ' ', element_at(w, i+1)))"
                )
            ).alias("bg"),
        )
    )
    cf = bi.groupBy("bg").agg(F.count(F.lit(1)).alias("corpus_n"))
    return (
        bi.join(cf, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("corpus_n").alias("familiarity"),
        )
    )


@q(
    "text_gopher_rules",
    f"""SELECT doc_id,
              CAST(nw AS BIGINT) AS n_words,
              CAST(FLOOR(CAST(na AS DOUBLE) * 10000 / nw) AS BIGINT) AS mwl_e4,
              CAST(n_stop AS BIGINT) AS n_stop,
              CAST(CASE WHEN nw BETWEEN 25 AND 90 THEN 1 ELSE 0 END AS INT) AS r_wordcount,
              CAST(CASE WHEN CAST(na AS DOUBLE) / nw >= 4.3
                         AND CAST(na AS DOUBLE) / nw <= 4.7
                        THEN 1 ELSE 0 END AS INT) AS r_meanlen,
              CAST(CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS INT) AS r_stopword,
              CAST(CASE WHEN nw BETWEEN 25 AND 90
                         AND CAST(na AS DOUBLE) / nw >= 4.3
                         AND CAST(na AS DOUBLE) / nw <= 4.7
                         AND n_stop >= 2
                        THEN 1 ELSE 0 END AS INT) AS keep
       FROM (SELECT doc_id,
                    {sql_ws_count()} AS nw,
                    length(regexp_replace(text, '{WS_CLASS}', '', 'g')) AS na,
                    {sql_word_hits(STOPWORDS)} AS n_stop
             FROM documents WHERE length(trim(text, ' ')) > 0) m""",
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/quality rule gate (Rae et al. 2021,
    "Scaling Language Models", Appendix A1.1) adapted to the synthetic
    corpus: word count in [25, 90] (the paper's [50, 100k] band scaled
    to this corpus's 10-99-word docs), mean word length in [4.3, 4.7]
    (paper: [3, 10] — tightened so the rule has bite on uniform-vocab
    text), and >= 2 stopword hits (the paper's rule verbatim). Emits
    per-rule 0/1 verdicts plus the conjunctive ``keep`` flag so a
    pipeline can both filter and audit per-rule kill rates.

    Exactness: mean word length crosses engines as FLOOR(na*1e4/nw)
    fixed-point (the raw double division is IEEE-identical, the floor
    makes the surface integer); thresholds compare the same division
    on both engines, so the rule verdicts cannot flip. Plan: one
    narrow scan -> codegen map, no shuffle — the shape of every
    large-corpus quality gate."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    nw = ws_count("text")
    na = F.length(F.regexp_replace("text", WS_CLASS, ""))
    n_stop = word_hits(F.col("text"), STOPWORDS)
    m = d.select(
        "doc_id",
        nw.alias("nw"),
        na.alias("na"),
        n_stop.alias("n_stop"),
    )
    mwl = F.col("na").cast("double") / F.col("nw")
    r_wc = F.col("nw").between(25, 90)
    r_ml = (mwl >= 4.3) & (mwl <= 4.7)
    r_st = F.col("n_stop") >= 2
    return m.select(
        "doc_id",
        F.col("nw").cast("bigint").alias("n_words"),
        F.floor(F.col("na").cast("double") * 10000 / F.col("nw"))
        .cast("bigint")
        .alias("mwl_e4"),
        F.col("n_stop").cast("bigint").alias("n_stop"),
        r_wc.cast("int").alias("r_wordcount"),
        r_ml.cast("int").alias("r_meanlen"),
        r_st.cast("int").alias("r_stopword"),
        (r_wc & r_ml & r_st).cast("int").alias("keep"),
    )


@q(
    "corpus_mix_temperature",
    """WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
       m AS (SELECT MIN(n) AS mn FROM counts),
       quota AS (
         SELECT lang, n,
                CAST(FLOOR(SQRT(CAST(n AS DOUBLE) * mn)) AS BIGINT) AS keep_n
         FROM counts, m
       ),
       ranked AS (
         SELECT doc_id, lang,
                ROW_NUMBER() OVER (PARTITION BY lang
                                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
         FROM documents
       )
       SELECT r.doc_id, r.lang, r.rk
       FROM ranked r JOIN quota q ON r.lang = q.lang
       WHERE r.rk <= q.keep_n""",
)
def corpus_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened mixture sampling — the alpha=0.5 language
    reweighting multilingual training uses (XLM-R style: big languages
    downsampled toward, small ones kept at, their natural size).
    Each language's quota is FLOOR(sqrt(n_lang * n_min)) — the
    geometric interpolation between its natural size and the uniform
    floor, which IS the alpha=0.5 temperature curve up to the corpus-
    level normalizer. That normalizer (sum of n^alpha across
    languages) is deliberately NOT part of the per-language rule: a
    cross-language float sum is accumulation-order-dependent between
    engines, while sqrt of an integer product is correctly rounded
    IEEE on both — so the quota, and therefore the selected set,
    cannot flip. Selection reuses corpus_mix_balance's deterministic
    md5-rank (reproducible, engine-portable, no RNG).

    Scale shape: one lang-partitioned window for the ranks plus a
    broadcast of the ~|languages|-row quota table; the production
    rate-threshold variant (filter md5 under keep_n/n, no per-group
    sort) is the same trade documented on corpus_mix_balance."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    mmin = counts.agg(F.min("n").alias("mn"))
    quota = counts.crossJoin(F.broadcast(mmin)).select(
        "lang",
        F.floor(F.sqrt(F.col("n").cast("double") * F.col("mn")))
        .cast("bigint")
        .alias("keep_n"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.withColumn("rk", F.row_number().over(w))
        .join(F.broadcast(quota), "lang")
        .filter(F.col("rk") <= F.col("keep_n"))
        .select("doc_id", "lang", "rk")
    )
