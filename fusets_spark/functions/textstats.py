"""Text analysis for training-data pipelines (engine extension): quality
scoring, language ID heuristic, token counting, fingerprinting. All native
column expressions (portable to the DuckDB oracle)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def _words():
    """Whitespace tokenization of `text` (built lazily: constructing a
    Column requires an active SparkContext, so no module-level Columns)."""
    return F.split(F.trim(F.col("text")), " +")

# tiny per-language stopword profiles for the n-gram/stopword heuristic
LANG_PROFILES = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "y", "los", "que"],
    "zh": ["的", "是", "了", "在", "和"],
}


def text_quality(docs: DataFrame) -> DataFrame:
    """Per-doc quality features: char/word counts, mean word length,
    punctuation ratio, stopword ratio, distinct-word ratio; plus a blended
    quality score in [0,1] (heuristic: long-enough, low-punct, some
    stopwords, diverse vocabulary)."""
    from ..kernels import fanout_partitions

    # per-row higher-order expressions are CPU-bound and fused into the
    # scan stage; fan narrow scans out so they use every core (per-row
    # results are partitioning-independent)
    docs = fanout_partitions(docs)
    words = _words()
    n_chars = F.length("text")
    n_words = F.size(words)
    n_punct = n_chars - F.length(F.regexp_replace("text", r"[^\w\s]", ""))
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1))
    stop = F.size(
        F.filter(words, lambda w: w.isin(["the", "a", "and", "of", "to"]))
    )
    stop_ratio = stop / F.greatest(n_words, F.lit(1))
    uniq_ratio = F.size(F.array_distinct(words)) / F.greatest(n_words, F.lit(1))
    mean_wlen = (
        F.aggregate(words, F.lit(0), lambda acc, w: acc + F.length(w))
        / F.greatest(n_words, F.lit(1))
    )
    score = (
        F.least(n_words / F.lit(50.0), F.lit(1.0)) * 0.4
        + (1 - F.least(punct_ratio * 5, F.lit(1.0))) * 0.2
        + F.least(stop_ratio * 10, F.lit(1.0)) * 0.2
        + uniq_ratio * 0.2
    )
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(uniq_ratio, 6).alias("uniq_word_ratio"),
        F.round(score, 6).alias("quality_score"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-profile language ID: score = #profile words present;
    prediction = argmax with deterministic tie-break on language code
    (greatest over (score, reversed-rank) structs)."""
    words = _words()

    def _hits(lang: str):
        prof = list(LANG_PROFILES[lang])
        return F.size(F.filter(words, lambda w: w.isin(prof)))

    scored = [(lang, _hits(lang)) for lang in sorted(LANG_PROFILES)]
    # greatest((score, neg-ord), ...) — ties resolve to the alphabetically
    # FIRST language: encode lang rank descending so bigger = earlier
    structs = [
        F.struct(
            hits.alias("s"),
            F.lit(len(scored) - i).alias("r"),
            F.lit(lang).alias("lang"),
        )
        for i, (lang, hits) in enumerate(scored)
    ]
    best = F.greatest(*structs)
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        best["lang"].alias("predicted_lang"),
        best["s"].alias("score"),
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace tokens + a BPE-ish regex token count (letter runs, digit
    runs, and single punctuation marks each count as one token)."""
    ws = F.size(_words())
    bpe = F.size(F.regexp_extract_all("text", F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), 0))
    return docs.select(
        "doc_id",
        ws.alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        F.ceil(F.length("text") / 4).alias("approx_llm_tokens"),
    )


def doc_fingerprint(docs: DataFrame, shingle_words: int = 5) -> DataFrame:
    """Content fingerprint: lexicographic-min md5 over n-word shingles
    (one per seed salt) — a winnowing-style selection that is stable under
    reordering of equal content and portable to the SQL oracle."""
    from ..kernels import fanout_partitions

    docs = fanout_partitions(docs, keys=("doc_id",))
    idx = ", ".join(f"words[i+{k}]" for k in range(shingle_words))
    sh = F.expr(
        f"transform(sequence(0, size(words)-{shingle_words}),"
        f" i -> concat_ws(' ', {idx}))"
    )
    exploded = (
        docs.withColumn("words", _words())
        .filter(F.size("words") >= shingle_words)
        .select("doc_id", F.explode(sh).alias("shingle"))
    )
    return exploded.groupBy("doc_id").agg(
        F.min(F.md5("shingle")).alias("fp0"),
        F.min(F.md5(F.concat(F.lit("s1:"), F.col("shingle")))).alias("fp1"),
        F.min(F.md5(F.concat(F.lit("s2:"), F.col("shingle")))).alias("fp2"),
        F.count_distinct(F.col("shingle")).alias("n_shingles"),
    )
