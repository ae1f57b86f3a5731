"""Text analysis for training-data pipelines: tokenization, quality
scoring, language ID, fingerprinting.

All pure built-in expressions (split / regexp_extract_all / higher-order
functions) — per-row, no shuffle, fully inside whole-stage codegen. At
100 TB these run at parquet-scan speed; the only shuffles are the final
per-language/per-source aggregations, keyed on low-cardinality columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from npm_mirror_spark.operators.dedup import normalize_text

# A small multilingual stopword sample for the heuristic language scorer.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "es": ["el", "la", "de", "y", "que", "en", "es"],
    "fr": ["le", "la", "de", "et", "que", "en", "est"],
    "de": ["der", "die", "das", "und", "zu", "in", "ist"],
}

# Whitespace tokens vs "BPE-ish" tokens: runs of letters, runs of digits,
# or single non-alphanumeric marks — a rough pre-tokenizer split.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


# Boilerplate phrases whose presence disqualifies a LINE (C4 §2.2 uses a
# curly-brace/JS/lorem/policy list; this is the same idea, configurable).
LINE_BLOCKLIST = (
    "lorem ipsum",
    "javascript",
    "cookie",
    "terms of use",
    "privacy policy",
)


def filter_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 3,
    require_terminal_punct: bool = True,
    blocklist: tuple = LINE_BLOCKLIST,
) -> DataFrame:
    """C4-style LINE-level cleaning (Raffel et al. 2020 §2.2): split the
    document on newlines, keep only lines that (a) have at least
    ``min_words`` whitespace words, (b) end in terminal punctuation
    (``. ! ? "``) when ``require_terminal_punct``, and (c) contain no
    blocklisted boilerplate phrase (case-insensitive) — then rebuild the
    text from the survivors.  The sub-document sibling of the per-doc
    gopher gate: menus, nav stubs and cookie banners die while the prose
    around them survives.

    Pure in-row higher-order functions — zero shuffle, whole-stage
    codegen, oracle-replayable (list_filter in DuckDB).  Returns
    (id, n_lines, kept_lines, clean_text).
    """
    lines = F.split(F.col(text_col), "\n")

    def keep(x):
        # trim SPACES AND TABS (review finding: F.trim strips spaces
        # only, so tab padding leaked into the word count and defeated
        # the terminal-punctuation check)
        t = F.regexp_replace(
            F.regexp_replace(x, r"^[ \t]+", ""), r"[ \t]+$", ""
        )
        # split on whitespace RUNS and count NON-EMPTY tokens (review
        # findings: a single-space split mints phantom empty words on
        # double spaces / fuses tab-separated words, and F.trim strips
        # only spaces so a leading/trailing TAB would still mint an
        # empty token); explicit [ \t]+ — identical in Java regex and
        # RE2, so the oracle replays it (the \s class differs between
        # the two engines, the same trap the BPE kernel pins)
        words = F.filter(F.split(t, "[ \t]+"), lambda y: y != "")
        ok = F.size(words) >= F.lit(int(min_words))
        if require_terminal_punct:
            ok = ok & F.substring(t, -1, 1).isin(".", "!", "?", '"')
        low = F.lower(t)
        for phrase in blocklist:
            ok = ok & ~low.contains(phrase)
        return ok

    kept = F.filter(lines, keep)
    return df.select(
        F.col(id_col),
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("kept_lines"),
        F.array_join(kept, "\n").alias("clean_text"),
    )


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Intra-document repetition removal: keep each line's FIRST
    occurrence (order preserved), drop later repeats, rebuild the text
    — the within-doc sibling of corpus-level dedup.  Scraped pages
    repeat nav blocks, footers and share-bars many times INSIDE one
    document; corpus-level MinHash never sees them (the doc is only
    near-dup of itself) and the C4 line gate (filter_lines) only
    catches lines that are independently bad — repeated GOOD lines
    need exactly this pass.

    Keep-first is expressed entirely in-row: a two-arg ``filter``
    lambda ((element, index) — PySpark binds the SECOND param to the
    0-based index) keeps a line iff ``array_position`` misses it among
    the ``slice`` of its predecessors.  Quadratic in LINES PER DOC
    (bounded by document structure, never corpus size), zero shuffle,
    whole-stage codegen; DuckDB replays with the identical
    list_filter/list_slice/list_position lambda (1-based index there).
    Returns (id, n_lines, n_kept, clean_text).
    """
    staged = df.select(
        F.col(id_col), F.split(F.col(text_col), "\n").alias("__lines")
    )
    kept = F.filter(
        "__lines",
        lambda x, i: F.array_position(F.slice("__lines", F.lit(1), i), x) == 0,
    )
    return staged.select(
        F.col(id_col),
        F.size("__lines").alias("n_lines"),
        F.size(kept).alias("n_kept"),
        F.array_join(kept, "\n").alias("clean_text"),
    )


def ws_tokens(col: Column | str) -> Column:
    return F.split(normalize_text(col), " ")


def ws_token_count(col: Column | str) -> Column:
    return F.size(ws_tokens(col))


def bpe_ish_tokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0)


def bpe_ish_token_count(col: Column | str) -> Column:
    return F.size(bpe_ish_tokens(col))


def stopword_count(col: Column | str, stopwords: list[str]) -> Column:
    toks = ws_tokens(col)
    sw = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))


def punct_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(r"[^\w\s]"), 0))


def quality_features(df: DataFrame, text_col: str) -> DataFrame:
    """Per-document quality features: char/token counts, mean token length,
    stopword ratio, punctuation ratio — the classic cheap quality filters a
    pretraining pipeline applies before anything expensive."""
    toks = ws_tokens(text_col)
    n_tok = F.size(toks)
    n_char = F.length(F.col(text_col))
    return df.withColumns(
        {
            "n_chars_calc": n_char,
            "n_tokens": n_tok,
            "mean_token_len": F.when(
                n_tok > 0,
                F.aggregate(
                    toks, F.lit(0), lambda acc, t: acc + F.length(t)
                ).cast("double")
                / n_tok.cast("double"),
            ),
            "stopword_ratio": stopword_count(text_col, STOPWORDS["en"]).cast("double")
            / n_tok.cast("double"),
            "punct_ratio": punct_count(text_col).cast("double") / n_char.cast("double"),
        }
    )


def gopher_rules(df: DataFrame, text_col: str) -> DataFrame:
    """Gopher/RefinedWeb-style document quality gate: each rule is its own
    boolean column (auditable — a pipeline wants to know WHICH rule fired,
    not just that the doc died), plus the within-document repetition
    signal: the fraction of duplicated word trigrams (classic boilerplate
    / spam detector). All JVM expressions; one pass, no shuffle.

    Thresholds are calibrated to this corpus's synthetic documents — at
    production scale they're config, not code.
    """
    from npm_mirror_spark.operators.dedup import word_shingles

    feats = quality_features(df, text_col)
    sh = word_shingles(text_col, 3)
    n_sh = F.size(sh)
    dup3 = (n_sh - F.size(F.array_distinct(sh))).cast("double") / n_sh.cast(
        "double"
    )
    with_rep = feats.withColumn("dup3_ratio", dup3)
    ok_length = F.col("n_tokens").between(10, 1000)
    ok_token_len = (F.col("mean_token_len") >= 2.0) & (
        F.col("mean_token_len") <= 12.0
    )
    ok_punct = F.col("punct_ratio") <= 0.3
    ok_stopwords = F.col("stopword_ratio") >= 0.01
    low_repetition = F.col("dup3_ratio") <= 0.3
    return with_rep.withColumns(
        {
            "ok_length": ok_length,
            "ok_token_len": ok_token_len,
            "ok_punct": ok_punct,
            "ok_stopwords": ok_stopwords,
            "low_repetition": low_repetition,
            "keep": ok_length
            & ok_token_len
            & ok_punct
            & ok_stopwords
            & low_repetition,
        }
    )


def language_scores(col: Column | str) -> Column:
    """map<lang, stopword-hit-count> — the n-gram-heuristic language scorer.
    Real lang-ID models would run as a pandas UDF; the heuristic keeps the
    hot path JVM-side."""
    return F.map_from_arrays(
        F.array(*[F.lit(lang) for lang in STOPWORDS]),
        F.array(*[stopword_count(col, sw) for lang, sw in STOPWORDS.items()]),
    )


def language_id(col: Column | str) -> Column:
    """argmax over language_scores, ties broken alphabetically; 'und' when
    nothing matches."""
    scores = language_scores(col)
    entries = F.map_entries(scores)  # array<struct<key,value>>
    best = F.aggregate(
        entries,
        F.struct(F.lit("und").alias("key"), F.lit(0).alias("value")),
        lambda acc, e: F.when(
            (e["value"] > acc["value"])
            | ((e["value"] == acc["value"]) & (e["key"] < acc["key"]) & (acc["value"] > 0)),
            e,
        ).otherwise(acc),
    )
    return best["key"]


def language_margin(col: Column | str) -> Column:
    """struct(top_hits, margin) — the CONFIDENCE of the heuristic
    language guess: top_hits is the winning language's stopword-hit
    count and margin its lead over the runner-up.  Production lang
    filters threshold on classifier confidence, not just the argmax
    (CCNet/fastText keep docs only above ~0.5); this is the same gate
    for the stopword scorer.  In-row sort of the 4-value score array —
    no shuffle, exact integers, oracle-replayable."""
    vals = F.array_sort(F.map_values(language_scores(col)))
    n = len(STOPWORDS)
    return F.struct(
        F.element_at(vals, n).alias("top_hits"),
        (F.element_at(vals, n) - F.element_at(vals, n - 1)).alias("margin"),
    )


def fingerprint(col: Column | str) -> Column:
    """Order-insensitive document fingerprint: md5 over the sorted distinct
    token set (the classic 'fingerprint' clustering key — robust to word
    order and duplication)."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(ws_tokens(col)))))


def text_stats_by(
    df: DataFrame, text_col: str, group_col: str
) -> DataFrame:
    """Corpus stats per group (e.g. per lang / per source): doc count,
    total chars, total tokens, mean tokens-per-doc. Exact integer sums —
    deterministic under any aggregation order."""
    n_tok = ws_token_count(text_col)
    return (
        df.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length(F.col(text_col))).alias("total_chars"),
            F.sum(n_tok).alias("total_tokens"),
        )
        .withColumn(
            "avg_tokens",
            F.col("total_tokens").cast("double") / F.col("n_docs").cast("double"),
        )
    )


def chunk_tokens(
    df: DataFrame,
    text_col: str,
    id_col: str,
    size: int = 128,
    stride: int = 96,
) -> DataFrame:
    """Sliding-window document chunking: token windows of ``size`` every
    ``stride`` tokens (overlap = size - stride), the preprocessing step in
    front of embedding models and long-context training. Windows are
    k = 0 .. ceil(max(n - size, 0) / stride), so every token is covered
    and only the last chunk may run short.

    All array expressions over one tokenization — the explode multiplies
    rows by ~n/stride but carries only (id, idx, text-slice); no shuffle.
    """
    toks = ws_tokens(text_col)
    d = df.select(F.col(id_col), toks.alias("__toks"))
    n = F.size("__toks")
    m = F.greatest(n - F.lit(size), F.lit(0))
    k_max = F.floor((m + F.lit(stride - 1)) / F.lit(stride)).cast("int")
    d = d.select(
        id_col,
        "__toks",
        F.explode(F.sequence(F.lit(0), k_max)).alias("chunk_idx"),
    )
    chunk = F.slice("__toks", F.col("chunk_idx") * stride + 1, size)
    return d.select(
        id_col,
        "chunk_idx",
        F.size(chunk).alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def compression_ratio(df: DataFrame, text_col: str, out: str = "zratio") -> DataFrame:
    """Deflate-compressibility quality signal: compressed_len / raw_len
    over UTF-8 bytes. Repetitive boilerplate compresses far below ~0.4;
    natural prose sits higher — a one-number repetition detector used
    alongside the Gopher rules.

    No JVM builtin compresses per-row, so this is the honest Arrow
    boundary: a vectorized pandas UDF over stdlib zlib (deterministic for
    a fixed level, batch-at-a-time, no Python-per-row loop in Spark —
    the per-row loop lives inside the Arrow batch, which is as good as it
    gets for a C-backed kernel). Not SQL-expressible -> rows-only driver
    check; determinism is pinned by pytest instead.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _zratio(texts):  # pd.Series -> pd.Series
        import zlib

        def one(t):
            if t is None:
                return None
            raw = t.encode("utf-8")
            if not raw:
                return 1.0
            return len(zlib.compress(raw, 6)) / len(raw)

        return texts.map(one)

    return df.withColumn(out, _zratio(F.col(text_col)))


def unigram_nll(
    docs: DataFrame,
    lm_docs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 1.0,
) -> DataFrame:
    """Unigram language-model perplexity scoring (the CCNet-style quality
    signal: score each document by how surprising its tokens are under a
    reference LM). ``lm_docs`` is the corpus the LM is trained on —
    typically a trusted reference corpus; defaults to ``docs`` itself
    (self-perplexity, which flags outlier documents).

    Model: add-k smoothed unigram, p(t) = (c_t + k) / (T + k*V) over the
    LM corpus's token count T and vocab size V. Output per doc:
    n_tokens, nll = mean -ln p(token) (nats), ppl = exp(nll).

    The 100 TB shape: the LM is the AGGREGATED vocabulary (freq table),
    orders of magnitude smaller than the corpus, broadcast into the
    token stream; scoring is explode -> broadcast join -> one doc_id
    re-aggregation — the same shape as q_doc_rarity. The ln runs
    map-side inside codegen on the joined rows.

    NOT oracle-backed: ln/exp are libm calls, not IEEE-exact ops, so
    cross-engine bit-stability cannot be guaranteed (the repo-wide
    no-libm rule, faces/__init__.py module docstring) and a parallel double SUM
    is order-dependent besides. Registered as a rows-only query
    (q_lm_nll); value semantics are cross-validated against a
    pure-Python reference in tests/test_lm.py.
    """
    lm = lm_docs if lm_docs is not None else docs
    lm_tok = lm.select(F.explode(ws_tokens(text_col)).alias("term"))
    freq = lm_tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    stats = freq.agg(
        F.sum("c").alias("T"), F.count(F.lit(1)).alias("V")
    )
    toks = docs.select(id_col, F.explode(ws_tokens(text_col)).alias("term"))
    lp = F.log(
        (F.col("c").cast("double") + F.lit(k))
        / (F.col("T").cast("double") + F.lit(k) * F.col("V").cast("double"))
    )
    scored = (
        toks.join(F.broadcast(freq), "term", "left")
        .crossJoin(F.broadcast(stats))
        .select(
            id_col,
            # unseen tokens (only possible with lm_docs != docs) take the
            # unsmoothed-count-0 probability k / (T + k*V)
            F.coalesce(
                lp,
                F.log(
                    F.lit(k)
                    / (F.col("T").cast("double") + F.lit(k) * F.col("V").cast("double"))
                ),
            ).alias("lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        (-F.sum("lp") / F.count(F.lit(1))).alias("nll"),
        F.exp(-F.sum("lp") / F.count(F.lit(1))).alias("ppl"),
    )


def _doc_bigrams(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, prev, cur) adjacent-token pairs, derived IN-ROW: zip the
    token array with its own tail via HOFs — no posexplode + window, so
    extracting bigrams costs no shuffle at all; only the downstream
    aggregation/join does."""
    toks = ws_tokens(text_col)
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("prev"), b.alias("cur")),
    )
    return df.select(F.col(id_col), F.explode(pairs).alias("bg")).select(
        id_col, F.col("bg.prev").alias("prev"), F.col("bg.cur").alias("cur")
    )


def bigram_nll(
    docs: DataFrame,
    lm_docs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 1.0,
    lam: float = 0.7,
) -> DataFrame:
    """Interpolated bigram LM perplexity — the KenLM-lite upgrade of
    :func:`unigram_nll` (a unigram LM cannot see word ORDER; shuffled
    boilerplate and natural prose score identically — the bigram term is
    what separates them).

    Model: p(cur|prev) = lam * p_bi + (1-lam) * p_uni, with
    p_bi = (c(prev,cur) + k) / (c(prev) + k*V) (add-k, per-history
    normalized) and p_uni the same add-k unigram as unigram_nll.
    Output per doc: n_bigrams, nll (mean -ln p in nats), ppl.

    The 100 TB shape: bigram extraction is IN-ROW (array zip — no
    shuffle); the LM tables are aggregates of the LM corpus (bigram
    types ~ O(tokens^0.7), far smaller than the corpus). The bigram
    table joins on the (prev, cur) equi key — hash-shuffle join when the
    table outgrows broadcast, exactly like the document side; unigram
    and history tables broadcast.  Same rows-only rationale as
    unigram_nll (libm ln/exp + order-dependent double sums); pure-Python
    parity is pinned in tests/test_lm.py.
    """
    lm = lm_docs if lm_docs is not None else docs
    uni = (
        lm.select(F.explode(ws_tokens(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    stats = uni.agg(F.sum("cu").alias("T"), F.count(F.lit(1)).alias("V"))
    bi = (
        _doc_bigrams(lm, text_col, id_col)
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    hist = bi.groupBy("prev").agg(F.sum("cb").alias("ch"))

    dbg = _doc_bigrams(docs, text_col, id_col)
    kk = F.lit(float(k))
    joined = (
        dbg.join(bi, ["prev", "cur"], "left")
        .join(F.broadcast(hist), "prev", "left")
        .join(F.broadcast(uni.select(F.col("term").alias("cur"), "cu")), "cur", "left")
        .crossJoin(F.broadcast(stats))
    )
    v = F.col("V").cast("double")
    p_bi = (F.coalesce(F.col("cb").cast("double"), F.lit(0.0)) + kk) / (
        F.coalesce(F.col("ch").cast("double"), F.lit(0.0)) + kk * v
    )
    p_uni = (F.coalesce(F.col("cu").cast("double"), F.lit(0.0)) + kk) / (
        F.col("T").cast("double") + kk * v
    )
    lp = F.log(F.lit(float(lam)) * p_bi + F.lit(1.0 - float(lam)) * p_uni)
    scored = joined.select(id_col, lp.alias("lp"))
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (-F.sum("lp") / F.count(F.lit(1))).alias("nll"),
        F.exp(-F.sum("lp") / F.count(F.lit(1))).alias("ppl"),
    )


def hashed_embedding(col: Column | str, dim: int = 16) -> Column:
    """Deterministic text embedding by the hashing trick (random
    indexing / signed feature hashing): each token contributes +-1 per
    output dimension (sign = parity of byte d of md5(token)), and the
    document embedding is the elementwise sum — the classic cheap
    baseline for similarity/clustering when no learned encoder is in the
    loop (and the plumbing twin for one: swap this Column for an
    inference seam and every downstream consumer is unchanged).

    Exact integer arithmetic end to end (sums of +-1) — no floats, so
    the result is oracle-checkable bit-for-bit.  Entirely IN-ROW: one
    md5 per token, HOF fold to the dim-array — NO shuffle, no explode;
    at 100 TB this is a free map-side projection like simhash16.
    ``dim`` <= 16 (one md5 digest = 16 sign bytes)."""
    if not 1 <= dim <= 16:
        raise ValueError("hashed_embedding: dim must be in [1, 16]")
    toks = ws_tokens(col)
    digests = F.transform(toks, lambda t: F.md5(t))
    signs = lambda h: F.transform(  # noqa: E731
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: F.when(
            F.conv(h.substr(d * 2 + 1, F.lit(2)), 16, 10).cast("int") % 2 == 1,
            F.lit(1),
        ).otherwise(F.lit(-1)),
    )
    return F.aggregate(
        digests,
        F.array_repeat(F.lit(0), dim),
        lambda acc, h: F.zip_with(acc, signs(h), lambda a, b: a + b),
    )


def bigram_collocations(
    df: DataFrame,
    text_col: str,
    min_count: int = 5,
    top_n: int = 50,
) -> DataFrame:
    """Collocation mining by LIFT over adjacent word bigrams — the
    log-free core of PMI (PMI = log2(lift); the monotone ranking is
    identical, and leaving the log out keeps every number an exact
    count ratio the oracle can replay — the q_tf_df contract).

    Pipeline: ws-token arrays stay IN-ROW and the bigram expansion is a
    HOF transform over the token array (no join builds pairs); bigram
    and unigram counts are two groupBys; the two unigram lookups are
    plain equi-joins on the word (the vocabulary outgrows a broadcast
    at 100 TB — Catalyst may still choose one at test SF); the 1-row
    bigram-total frame broadcasts (singleton fold, allowlisted).
    ``lift = c_xy * N / (c_x * c_y)`` is evaluated as two exact-int
    double casts, one multiply each side, one division — deterministic.
    Output: top ``top_n`` by (lift desc, w1, w2), with exact counts.
    """
    toks = ws_tokens(text_col)
    bigrams = F.expr(
        "transform(slice(__toks, 1, size(__toks) - 1), "
        "(x, i) -> struct(x AS w1, element_at(__toks, i + 2) AS w2))"
    )
    t = df.select(toks.alias("__toks"))
    pairs = t.select(F.explode(bigrams).alias("p")).select("p.w1", "p.w2")
    uni = (
        t.select(F.explode("__toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_w"))
    )
    pc = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
    tot = pc.agg(F.sum("c_xy").alias("n_bigrams"))
    lift = (
        F.col("c_xy").cast("double") * F.col("n_bigrams").cast("double")
    ) / (F.col("c_x").cast("double") * F.col("c_y").cast("double"))
    return (
        pc.filter(F.col("c_xy") >= F.lit(int(min_count)))
        .join(uni.select(F.col("w").alias("w1"), F.col("c_w").alias("c_x")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c_w").alias("c_y")), "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "c_xy", "c_x", "c_y", "n_bigrams", lift.alias("lift"))
        .orderBy(F.desc("lift"), "w1", "w2")
        .limit(int(top_n))
    )


def lexical_diversity_by(
    df: DataFrame, text_col: str, group: str
) -> DataFrame:
    """Per-group lexical-diversity audit over normalized whitespace
    tokens: vocabulary size (types), token count, hapax legomena
    (types occurring exactly once), type-token ratio and hapax share —
    the corpus-health panel that catches boilerplate floods (TTR
    collapses) and OCR/mojibake floods (hapax share explodes) before a
    training mix is frozen.  Exact integers + two one-shot IEEE
    divisions; same normalization contract as the shingle family
    (lower, collapse whitespace, trim), so the SQL oracle replays it
    verbatim.

    Shape: one explode + one (group, token) collapse (the tf_df
    shuffle), then a per-group fold — type/hapax counting never
    revisits raw text.  Empty-after-normalization docs contribute
    nothing (no empty-string token).

    Output per group: group, n_types, n_tokens, n_hapax, ttr,
    hapax_frac.
    """
    from npm_mirror_spark.operators.dedup import normalize_text

    toks = df.select(
        F.col(group).alias("__g"),
        F.explode(F.split(normalize_text(text_col), " ")).alias("__t"),
    ).where(F.col("__t") != "")
    tf = toks.groupBy("__g", "__t").agg(F.count(F.lit(1)).alias("__c"))
    per = tf.groupBy("__g").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("__c").alias("n_tokens"),
        F.sum(F.when(F.col("__c") == 1, 1).otherwise(0)).alias("n_hapax"),
    )
    return per.select(
        F.col("__g").alias(group),
        "n_types",
        "n_tokens",
        "n_hapax",
        (F.col("n_types").cast("double") / F.col("n_tokens").cast("double")).alias(
            "ttr"
        ),
        (F.col("n_hapax").cast("double") / F.col("n_types").cast("double")).alias(
            "hapax_frac"
        ),
    ).orderBy(group)


def vocab_coverage(
    df: DataFrame,
    text_col: str,
    thresholds: tuple[tuple[int, int], ...] = ((50, 100), (90, 100), (95, 100), (99, 100)),
) -> DataFrame:
    """Vocabulary coverage curve: for each mass threshold p, the number
    of most-frequent token TYPES needed to cover at least p of the
    corpus token mass — the tokenizer-sizing question (how big must a
    vocab be to cover 95% of running text?) that
    :func:`lexical_diversity_by` (type/token ratios) and the BPE
    trainer (merge learning) do not answer.

    Division-free thresholding (the weighted-median contract):
    thresholds arrive as exact (num, den) rationals and the crossing
    test is the cross-multiplied integer comparison
    ``cum_mass * den >= num * total_mass``.  Token types collapse to
    COUNT CLASSES first (one row per distinct frequency — the axis a
    Zipf tail keeps tiny), so the descending cumulative runs on the
    bounded class axis via
    :func:`~npm_mirror_spark.operators.classifier._with_prior_sums`
    (every window bounded by the range-bucket key — no single-reducer
    vocab sort at 100 TB).  Coverage is reported at count-class
    granularity: all types in the crossing class are taken (types tied
    on frequency are interchangeable), so ``k_types`` is the smallest
    class-boundary vocabulary covering >= p.

    Output per threshold: p_num, p_den, cutoff_count (the crossing
    class frequency), k_types, covered_mass, total_types, total_mass —
    all exact integers.
    """
    from npm_mirror_spark.operators.classifier import _with_prior_sums

    for num, den in thresholds:
        # p > 1 has no crossing class and would silently drop its row
        # from the output (inner-join semantics); p <= 0 is trivially
        # crossed by every class — both are caller bugs, fail loudly
        if den < 1 or num < 1 or num > den:
            raise ValueError(
                f"vocab_coverage: threshold {num}/{den} outside (0, 1]"
            )
    d38 = "decimal(38,0)"
    toks = df.select(
        F.explode(ws_tokens(text_col)).alias("__tok")
    ).filter(F.col("__tok") != "")
    tf = toks.groupBy("__tok").agg(F.count(F.lit(1)).alias("__c"))
    cls = tf.groupBy("__c").agg(F.count(F.lit(1)).alias("__types"))
    cls = cls.select(
        "__c",
        "__types",
        (F.col("__c").cast(d38) * F.col("__types").cast(d38))
        .cast(d38)
        .alias("__mass"),
    )
    pri = _with_prior_sums(cls, "__c", ("__types", "__mass"), descending=True)
    tot = cls.agg(
        F.sum("__types").alias("total_types"),
        F.sum("__mass").cast(d38).alias("__total_mass"),
    )
    thr = tot.select(
        "total_types",
        "__total_mass",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(int(num)).alias("p_num"),
                        F.lit(int(den)).alias("p_den"),
                    )
                    for num, den in thresholds
                ]
            )
        ).alias("__p"),
    ).select("total_types", "__total_mass", "__p.p_num", "__p.p_den")
    cum_mass = (F.col("__prior___mass").cast(d38) + F.col("__mass")).cast(d38)
    crossed = (
        pri.crossJoin(F.broadcast(thr))
        .where(
            cum_mass * F.col("p_den").cast(d38)
            >= F.col("p_num").cast(d38) * F.col("__total_mass")
        )
        .groupBy("p_num", "p_den")
        .agg(F.max("__c").alias("cutoff_count"))
    )
    out = (
        crossed.join(
            pri.select(
                F.col("__c").alias("cutoff_count"),
                (F.col("__prior___types") + F.col("__types")).alias("k_types"),
                cum_mass.cast("double").alias("covered_mass"),
            ),
            "cutoff_count",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "p_num",
            "p_den",
            "cutoff_count",
            "k_types",
            "covered_mass",
            "total_types",
            F.col("__total_mass").cast("double").alias("total_mass"),
        )
        .orderBy("p_num", "p_den")
    )
    return out


def vocab_richness(df: DataFrame, text_col: str) -> DataFrame:
    """Vocabulary richness and unseen-mass estimators from the token
    count-class table — the corpus-growth questions
    :func:`vocab_coverage` (coverage of SEEN types) does not answer:
    how many types does the corpus vocabulary REALLY have (Chao1 lower
    bound, Chao 1984: seen types + f1^2-ish correction from the
    singleton/doubleton ratio), and what probability mass will the
    NEXT document spend on never-seen tokens (Good–Turing missing
    mass, p0 = f1/N)?

    Both are fixed IEEE expressions on exact integers: S_obs, N, f1
    (singleton types), f2 (doubleton types) are exact counts; the
    bias-corrected Chao1 form f1*(f1-1)/(2*(f2+1)) stays total when
    f2 = 0.  Tokenization is :func:`ws_tokens` (the corpus-wide
    normalize + split every token face shares).

    Shape: token explode + one (token) count + one (count) class
    collapse + a 1-row fold — the same bounded count-class axis as
    vocab_coverage.  Output one row: s_obs, n_tokens, f1, f2,
    chao1, gt_p0.
    """
    d38 = "decimal(38,0)"
    toks = df.select(
        F.explode(ws_tokens(text_col)).alias("__tok")
    ).filter(F.col("__tok") != "")
    tf = toks.groupBy("__tok").agg(F.count(F.lit(1)).alias("__c"))
    out = tf.agg(
        F.count(F.lit(1)).alias("s_obs"),
        F.sum(F.col("__c").cast(d38)).cast(d38).alias("__n"),
        F.sum(F.when(F.col("__c") == 1, 1).otherwise(0)).alias("f1"),
        F.sum(F.when(F.col("__c") == 2, 1).otherwise(0)).alias("f2"),
    )
    f1d = F.col("f1").cast("double")
    return out.select(
        "s_obs",
        F.col("__n").cast("double").alias("n_tokens"),
        "f1",
        "f2",
        (
            F.col("s_obs").cast("double")
            + (f1d * (f1d - F.lit(1.0)))
            / (F.lit(2.0) * (F.col("f2") + 1).cast("double"))
        ).alias("chao1"),
        (f1d / F.col("__n").cast("double")).alias("gt_p0"),
    )


def ngram_novelty(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    n: int = 3,
) -> DataFrame:
    """Corpus novelty audit per group: what fraction of each group's
    distinct word n-gram TYPES appear there FIRST (no document with a
    smaller id already contains them)?  The ingestion-order freshness
    signal curation pipelines rank new sources by — a crawl slice that
    mostly re-states n-grams the corpus already holds adds little
    training signal even when exact/near dedup passes it (novelty is
    finer than q_dup_ngram_fraction's cross-doc duplication: it credits
    the FIRST occurrence and charges every later one).

    First-occurrence is by MIN(id) per n-gram — deterministic under
    any ordering of the underlying scan.  Per group: n_types (the sum
    over its docs of distinct n-gram types — repeats within a doc
    count once), n_novel (types whose global first doc is that doc),
    novelty = ONE division.  NULL text/group rows are dropped; short
    docs contribute their whole-text shingle
    (:func:`~npm_mirror_spark.operators.dedup.word_shingles`).

    Shape: explode -> (doc, gram) distinct collapse, one gram-keyed
    min-aggregate, one gram-keyed equi join back, one per-group fold —
    three shuffles, all on the gram/group keys; nothing quadratic.
    """
    from npm_mirror_spark.operators.dedup import word_shingles

    ex = (
        df.filter(
            F.col(text_col).isNotNull() & F.col(group_col).isNotNull()
        )
        .select(
            F.col(id_col).alias("__id"),
            F.col(group_col).alias("__g"),
            F.explode(word_shingles(F.col(text_col), n)).alias("__s"),
        )
        .distinct()
    )
    first = ex.groupBy("__s").agg(F.min("__id").alias("__fd"))
    j = ex.join(first, "__s")
    return (
        j.groupBy("__g")
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.sum(
                (F.col("__id") == F.col("__fd")).cast("long")
            ).alias("n_novel"),
        )
        .select(
            F.col("__g").alias(group_col),
            "n_types",
            "n_novel",
            (
                F.col("n_novel").cast("double")
                / F.col("n_types").cast("double")
            ).alias("novelty"),
        )
        .orderBy(group_col)
    )


def yule_k_cells(df: DataFrame, text_col: str) -> DataFrame:
    """Yule's K (plus Simpson's D and Sichel's S) over the corpus
    token-frequency spectrum — the REPETITIVENESS face of lexical
    richness (:func:`vocab_richness` asks how many types are missing;
    Yule's K asks how concentrated the observed mass is: boilerplate
    and template spam push K up sharply, which makes it a classic
    cheap quality gate for LLM corpora).

    Exact-integer restatement (Yule 1944): with N tokens, exact type
    counts c, and C2 = Sigma_types c^2,

        K         = 10^4 * (C2 - N) / N^2
        simpson_d = (C2 - N) / (N * (N - 1))   (repeat-pick probability)
        sichel_s  = f2 / s_types               (doubleton share)

    — each ONE IEEE division on exact DECIMAL(38,0) operands (the
    q_kappa contract; C2 <= N^2 needs N <~ 1e19, far beyond any
    corpus).  Tokenization is :func:`ws_tokens` on the shared
    normalization, the vocab_coverage/vocab_richness convention, so
    the three richness faces stay comparable.

    Shape: explode -> one (token) collapse -> 1-row spectrum fold —
    map-side combinable, no window, no join.

    Output (one row): n_tokens, s_types, sum_c2, f1, f2, yule_k,
    simpson_d, sichel_s.
    """
    d38 = "decimal(38,0)"
    toks = df.select(F.explode(ws_tokens(text_col)).alias("__tok")).filter(
        F.col("__tok") != ""
    )
    tf = toks.groupBy("__tok").agg(F.count(F.lit(1)).alias("__c"))
    spec = tf.agg(
        F.count(F.lit(1)).alias("s_types"),
        F.sum("__c").cast(d38).alias("__n"),
        F.sum(F.col("__c").cast(d38) * F.col("__c").cast(d38))
        .cast(d38)
        .alias("__c2"),
        F.sum((F.col("__c") == 1).cast("long")).alias("f1"),
        F.sum((F.col("__c") == 2).cast("long")).alias("f2"),
    )
    zero = F.lit(0).cast(d38)
    n = F.coalesce(F.col("__n"), zero)
    c2 = F.coalesce(F.col("__c2"), zero)
    return spec.select(
        n.cast("long").alias("n_tokens"),
        "s_types",
        c2.cast("double").alias("sum_c2"),
        F.coalesce("f1", F.lit(0)).alias("f1"),
        F.coalesce("f2", F.lit(0)).alias("f2"),
        F.when(
            n > 0,
            (F.lit(10000).cast(d38) * (c2 - n)).cast(d38).cast("double")
            / (n * n).cast(d38).cast("double"),
        ).alias("yule_k"),
        F.when(
            n > 1,
            (c2 - n).cast(d38).cast("double")
            / (n * (n - 1)).cast(d38).cast("double"),
        ).alias("simpson_d"),
        F.when(
            F.col("s_types") > 0,
            F.col("f2").cast("double") / F.col("s_types").cast("double"),
        ).alias("sichel_s"),
    )
