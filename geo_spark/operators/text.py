"""Text analysis for training-data curation — all native Spark SQL.

Every metric here is built from portable string primitives (length,
replace, substr, regexp) that behave identically in the DuckDB oracle,
so the whole module is hash-verifiable end to end.  No UDFs: these run
inside whole-stage codegen at full scan speed — at 100 TB the text pass
is I/O-bound, exactly as it should be.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from geo_spark.plans.checkpoints import free_local_checkpoint

# Tiny per-language stopword markers for the n-gram language heuristic.
# Counting ' the ' occurrences via the length/replace trick is exact and
# portable; real language-ID would use a trained model — the *operator
# shape* (argmax over per-language evidence columns) is what matters.
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "es": [" el ", " los ", " que "],
    "fr": [" le ", " les ", " des "],
    "pt": [" os ", " das ", " uma "],
}


def occurrences(col: Column, needle: str) -> Column:
    """Occurrence count of a literal substring:
    (len(s) - len(replace(s, needle))) / len(needle) — exact integer."""
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("long")


def occurrences_sql(col: str, needle: str) -> str:
    """The same expression as ANSI SQL text (for oracle twins)."""
    lit = needle.replace("'", "''")
    return (
        f"CAST((length({col}) - length(replace({col}, '{lit}', '')))"
        f" / {len(needle)} AS BIGINT)"
    )


def with_quality(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring columns: char/token counts, mean token length
    (x1000 fixed-point for portability), uppercase & digit & space
    counts.  Token = whitespace-separated run (text is single-spaced in
    the fixture; the formula is the classic len-diff trick)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_spaces = n_chars - F.length(F.replace(t, F.lit(" "), F.lit("")))
    n_tokens = F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(n_spaces + 1)
    return docs.withColumns(
        {
            "n_chars_m": n_chars.cast("long"),
            "n_tokens": n_tokens.cast("long"),
            "n_digits": (
                n_chars - F.length(F.regexp_replace(t, "[0-9]", ""))
            ).cast("long"),
            "n_upper": (
                n_chars - F.length(F.regexp_replace(t, "[A-Z]", ""))
            ).cast("long"),
            # floor() explicitly: Spark's double->long cast truncates but
            # DuckDB's rounds, so the oracle twin must share the floor.
            "mean_token_len_x1000": F.when(
                n_tokens > 0,
                F.floor(
                    ((n_chars - n_spaces) * F.lit(1000)).cast("long")
                    / n_tokens.cast("long")
                ),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        }
    )


def with_lang_guess(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Argmax over per-language marker counts; ties -> lexicographically
    smallest language; zero evidence -> 'und'."""
    t = F.concat(F.lit(" "), F.col(text_col), F.lit(" "))
    scores = [
        F.struct(
            sum(occurrences(t, m) for m in markers).alias("score"),
            F.lit(lang).alias("lang"),
        )
        for lang, markers in sorted(LANG_MARKERS.items())
    ]
    # array_max on struct(score desc, lang asc): invert lang ordering by
    # taking max of (score, negated-lang) is messy — instead sort_array
    # descending puts (highest score, lexicographically LAST lang) first,
    # so flip: pick via aggregate with an explicit comparator.
    best = F.aggregate(
        F.array(*scores),
        F.struct(F.lit(-1).cast("long").alias("score"), F.lit("zzz").alias("lang")),
        lambda acc, x: F.when(
            (x["score"] > acc["score"])
            | ((x["score"] == acc["score"]) & (x["lang"] < acc["lang"])),
            x,
        ).otherwise(acc),
    )
    return docs.withColumn("_b", best).withColumns(
        {
            "lang_guess": F.when(F.col("_b.score") > 0, F.col("_b.lang")).otherwise(
                F.lit("und")
            ),
            "lang_score": F.greatest(F.col("_b.score"), F.lit(0)).cast("long"),
        }
    ).drop("_b")


def lang_guess_sql(text_col: str = "text") -> tuple[str, str]:
    """(lang_guess_expr, lang_score_expr) oracle twins in plain SQL —
    a greatest-score CASE cascade with the same tie rule."""
    padded = f"(' ' || {text_col} || ' ')"
    score_exprs = {
        lang: "(" + " + ".join(occurrences_sql(padded, m) for m in markers) + ")"
        for lang, markers in sorted(LANG_MARKERS.items())
    }
    greatest = "greatest(" + ", ".join(score_exprs.values()) + ")"
    case = "CASE "
    for lang in sorted(score_exprs):  # ascending => first match is the tie-winner
        case += f"WHEN {score_exprs[lang]} = {greatest} THEN '{lang}' "
    case += "END"
    guess = f"CASE WHEN {greatest} > 0 THEN {case} ELSE 'und' END"
    score = f"CAST(greatest({greatest}, 0) AS BIGINT)"
    return guess, score


def with_fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Normalized-content fingerprint: lower + whitespace-collapse + trim
    -> md5.  Survives reflow/casing edits; the join key for cross-crawl
    dedup."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), "\\s+", " "))
    return docs.withColumn("fingerprint", F.md5(norm))


FINGERPRINT_SQL = "md5(trim(regexp_replace(lower({col}), '\\s+', ' ', 'g')))"


def token_count_bpe_ish(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Sub-word-ish token count: alpha runs + digit runs + isolated
    punctuation (the pre-tokenization pass of BPE tokenizers)."""
    return docs.withColumn(
        "n_bpe_tokens",
        F.size(
            F.regexp_extract_all(
                F.col(text_col), F.lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), 0
            )
        ).cast("long"),
    )


def unigram_nll(
    docs: DataFrame, key: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-conditional quality score: per-document mean unigram
    negative log-likelihood under the corpus's own word distribution —
    the shape of CCNet-style LM-perplexity filtering, with the corpus
    itself as the language model.  High scores flag documents whose
    vocabulary is atypical for the corpus.

    Two passes, both scale-clean: (1) global word counts (explode +
    map-side-combined groupBy; vocabulary << corpus so the result is
    broadcastable), (2) per-doc sum via a broadcast join.  Log terms
    are fixed-pointed per *word* (floor(ln p x 1e6)) before summing so
    the aggregate is an exact integer sum — invariant to partition
    order, unlike a float sum.
    """
    words = docs.select(
        F.col(key),
        F.explode(F.split(F.col(text_col), " +")).alias("w"),
    ).where(F.length("w") > 0)
    counts = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("tot"))
    logp = counts.crossJoin(F.broadcast(total)).select(
        "w",
        F.floor(F.log(F.col("cnt") / F.col("tot")) * 1e6).cast("long").alias("lp_x1e6"),
    )
    return (
        words.join(F.broadcast(logp), "w")
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            (-F.sum("lp_x1e6")).alias("nll_x1e6"),
        )
    )


def _ngram_array(tk: Column, n: int) -> Column:
    """Array of word n-grams (space-joined) from a token array — pure
    higher-order functions, no explode yet.  The F.when guard matters:
    Spark's sequence(0, size-n) with size < n infers step -1 and yields
    a DESCENDING sequence instead of an empty one."""
    return F.when(
        F.size(tk) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(tk) - n),
            lambda i: F.concat_ws(" ", F.slice(tk, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def repetition_signals(
    docs: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    line_sep: str = "\n",
    top_n: int = 2,
    dup_n: int = 5,
) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1),
    the standard pre-training repetition filters, per document:

      n_lines / n_tokens            — size denominators
      dup_line_frac_x1e6            — excess duplicate-line characters
                                      ((count-1)·len per repeated line)
                                      over total line characters
      top_{top_n}gram_frac_x1e6     — characters claimed by the single
                                      most frequent word n-gram
                                      (count·len; overlaps counted, so
                                      the ratio may exceed 1e6); ties
                                      break to the lexicographically
                                      smallest n-gram
      dup_{dup_n}gram_token_frac_x1e6 — fraction of token POSITIONS
                                      covered by at least one word
                                      n-gram that occurs 2+ times in the
                                      doc (exact interval-union coverage
                                      via a position explode + distinct,
                                      not the overcounting sum)

    All ratios are floor((num·1e6) div den) in exact integer arithmetic,
    so the DuckDB twin matches bitwise.  Native SQL end to end: the
    explodes/groupBys shuffle token-scale rows keyed by (doc, gram) with
    map-side partial combine — the same one-token-table-shuffle shape as
    bm25_scores.  (A zero-shuffle alternative — one Arrow pass with
    per-doc Counters — wins when documents are tiny and the cluster is
    shuffle-bound; the keyed form wins on skew transparency and stays
    hash-verifiable, so it is the default.)
    """
    import re as _re

    tok_re = "[ " + _re.escape(line_sep) + "]"
    t = F.col(text_col)
    base = docs.select(
        F.col(key),
        F.length(t).cast("long").alias("_n_chars"),
        F.split(t, _re.escape(line_sep), -1).alias("_lns"),
        F.split(t, tok_re, -1).alias("_tk"),
    )

    # -- duplicate-line excess characters ------------------------------
    lines = base.select(F.col(key), F.explode("_lns").alias("_ln"))
    lc = lines.groupBy(key, "_ln").agg(F.count(F.lit(1)).alias("_c"))
    line_stats = (
        lc.groupBy(key)
        .agg(
            F.sum("_c").cast("long").alias("n_lines"),
            F.sum(F.col("_c") * F.length("_ln")).cast("long").alias("_tot"),
            F.sum(
                F.when(
                    F.col("_c") >= 2, (F.col("_c") - 1) * F.length("_ln")
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("_dup"),
        )
        .select(
            key,
            "n_lines",
            F.when(F.col("_tot") > 0, F.expr("(_dup * 1000000) div _tot"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("dup_line_frac_x1e6"),
        )
    )

    # -- most frequent top_n-gram character claim ----------------------
    tg = base.select(
        F.col(key), "_n_chars", F.explode(_ngram_array(F.col("_tk"), top_n)).alias("_g")
    )
    tgc = tg.groupBy(key, "_n_chars", "_g").agg(F.count(F.lit(1)).alias("_c"))
    top = (
        tgc.groupBy(key, "_n_chars")
        .agg(
            F.min(
                F.struct((-F.col("_c")).alias("_neg"), F.col("_g").alias("_g"))
            ).alias("_b")
        )
        .select(
            key,
            F.expr("((-_b._neg) * length(_b._g) * 1000000) div _n_chars")
            .cast("long")
            .alias(f"top_{top_n}gram_frac_x1e6"),
        )
    )

    # -- duplicated dup_n-gram positional coverage ---------------------
    pg = base.select(
        F.col(key), F.posexplode(_ngram_array(F.col("_tk"), dup_n)).alias("_p", "_g")
    )
    dup = (
        pg.groupBy(key, "_g")
        .agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") >= 2)
        .select(key, "_g")
    )
    cov = (
        pg.join(dup, [key, "_g"])
        .select(
            F.col(key),
            F.explode(F.sequence(F.col("_p"), F.col("_p") + (dup_n - 1))).alias("_ti"),
        )
        .distinct()
        .groupBy(key)
        .agg(F.count(F.lit(1)).cast("long").alias("_cov"))
    )

    sizes = base.select(
        F.col(key), "_n_chars", F.size("_tk").cast("long").alias("n_tokens")
    )
    return (
        sizes.join(line_stats, key)
        .join(top, key, "left")
        .join(cov, key, "left")
        .select(
            key,
            "n_lines",
            "n_tokens",
            "dup_line_frac_x1e6",
            F.coalesce(f"top_{top_n}gram_frac_x1e6", F.lit(0).cast("long")).alias(
                f"top_{top_n}gram_frac_x1e6"
            ),
            F.coalesce(
                F.expr("(_cov * 1000000) div n_tokens"), F.lit(0).cast("long")
            ).alias(f"dup_{dup_n}gram_token_frac_x1e6"),
        )
    )


def tfidf_topk(
    docs: DataFrame,
    k: int = 3,
    key: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k TF-IDF keywords per document: score = tf * ln(N/df) over
    whitespace tokens, ranked per doc by (score DESC, term ASC).

    Both factors are exact integers (term count, document frequency,
    corpus size), so the only float is ln(N/df) on identical integer
    ratios — the oracle recomputes bit-identical scores, and the ASC
    term tie-break resolves equal-(tf, df) terms deterministically.

    Scale shape: token explode -> ONE (doc, term) count shuffle; df is
    a groupBy(term) over that (already aggregated) table, not the raw
    tokens; N is a 1-row broadcast; the final per-doc rank is a
    row_number window that Spark 4 rewrites with a partial
    WindowGroupLimit below the exchange.  All codegen, no Python."""
    toks = docs.select(
        F.col(key), F.explode(F.split(F.col(text_col), " ", -1)).alias("_term")
    ).where(F.length("_term") > 0)
    tf = toks.groupBy(key, "_term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("_term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("_n"))
    scored = (
        tf.join(df_, "_term")
        .join(F.broadcast(n))
        .withColumn(
            "_score",
            F.col("tf")
            * F.log(F.col("_n").cast("double") / F.col("df").cast("double")),
        )
    )
    w = Window.partitionBy(key).orderBy(
        F.col("_score").desc(), F.col("_term").asc()
    )
    return (
        scored.withColumn("_rnk", F.row_number().over(w))
        .where(F.col("_rnk") <= k)
        .select(
            key,
            F.col("_term").alias("term"),
            "tf",
            "df",
            F.col("_rnk").cast("int").alias("rank"),
        )
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    key: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed term set
    — the retrieval-quality scoring a corpus pipeline uses to mine
    topic-targeted subsets.  Entirely native SQL:

    - tokenization is a split+explode projection; term filtering is an
      IN over the (small, literal) query-term list, so only matching
      tokens ever reach the aggregation;
    - document frequencies are a tiny aggregate broadcast back (no
      second pass over tokens); corpus size and avg document length
      come from one aggregate over the documents;
    - the score is one codegen expression per (doc, term), summed by a
      map-side-combined hash aggregate.  One token-table shuffle total.

    IDF uses the non-negative variant ln(1 + (N - df + .5)/(df + .5)).
    Scale: the token table is the only big intermediate (corpus tokens
    filtered to query terms); everything else is dimension-sized.
    """
    terms = [t.lower() for t in query_terms]
    toks = (
        docs.select(
            F.col(key),
            F.explode(
                F.split(F.lower(F.col(text_col)), r"\s+")
            ).alias("term"),
        )
        .where(F.col("term").isin(terms))
    )
    tf = toks.groupBy(key, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    dl = docs.select(
        F.col(key),
        F.size(F.split(F.lower(F.col(text_col)), r"\s+")).alias("dl"),
    )
    # corpus size and mean length from ONE pass over the documents
    n_docs, avgdl = dl.agg(F.count(F.lit(1)), F.avg("dl")).first()
    avgdl = float(avgdl)
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .join(dl, key)
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "part",
            F.col("idf")
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
            ),
        )
    )
    return scored.groupBy(key).agg(F.sum("part").alias("bm25"))


def token_lift(
    docs: DataFrame,
    min_count: int = 5,
    k: int = 20,
    key: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k token bigrams by association lift — PMI's ratio
    p(ab) / (p(a)·p(b)) in integer ppm fixed-point WITHOUT the log, so
    the collocation miner stays bitwise engine-portable (ln is the only
    non-replayable piece of PMI; the log is monotone, so the RANKING is
    PMI's ranking exactly).

    lift_ppm is computed in a FIXED division order (each step bounded
    so int64 never overflows at corpus scale ~1e9 tokens; beyond that,
    shard-local scaling applies):

        s1 = (c_ab * n_uni) div c_a          -- <= n_uni
        s2 = (s1 * 1000000) div c_b          -- <= n_uni * 1e6
        lift_ppm = (s2 * n_uni) div n_big    -- ~ lift * 1e6

    Scale shape: adjacency via ONE per-doc lead window (positions come
    free from posexplode — no token self-join), then two count
    shuffles (bigrams, unigrams) with map-side combine; the corpus
    totals are 1-row broadcasts and the global top-k sorts only the
    min_count-filtered aggregate."""
    toks = docs.select(
        F.col(key),
        F.posexplode(F.split(F.lower(F.col(text_col)), " ", -1)).alias(
            "_pos", "_term"
        ),
    )
    w = Window.partitionBy(key).orderBy("_pos")
    pairs = toks.withColumn("_nxt", F.lead("_term").over(w)).where(
        (F.length("_term") > 0) & (F.length("_nxt") > 0)
    )
    big = pairs.groupBy(
        F.col("_term").alias("a"), F.col("_nxt").alias("b")
    ).agg(F.count(F.lit(1)).alias("c_ab"))
    uni = (
        toks.where(F.length("_term") > 0)
        .groupBy(F.col("_term").alias("t"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_uni = uni.agg(F.sum("c").alias("n_uni"))
    n_big = big.agg(F.sum("c_ab").alias("n_big"))
    j = (
        big.where(F.col("c_ab") >= min_count)
        .join(uni.select(F.col("t").alias("a"), F.col("c").alias("c_a")), "a")
        .join(uni.select(F.col("t").alias("b"), F.col("c").alias("c_b")), "b")
        .join(F.broadcast(n_uni))
        .join(F.broadcast(n_big))
    )
    lift = F.expr(
        "(((c_ab * n_uni) div c_a) * 1000000 div c_b) * n_uni div n_big"
    )
    return (
        j.select("a", "b", "c_ab", "c_a", "c_b", lift.alias("lift_ppm"))
        .orderBy(F.col("lift_ppm").desc(), "a", "b")
        .limit(k)
    )


def inverted_index(
    docs: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
) -> DataFrame:
    """(term, df, postings): the classic IR index build — per term, its
    document frequency and the ascending posting list GAP-ENCODED as a
    comma-joined string (first entry is the raw id, the rest are deltas
    — the layout real posting lists compress, since gaps are small and
    varint/PForDelta-friendly downstream).

    Scale shape: tokenize -> distinct (term, doc) -> ONE groupBy(term)
    with sort_array(collect_list(...)) — a single shuffle; the gap
    transform and join are per-row array ops in codegen, no Python and
    no window.  Posting lists of web-scale hot terms ("the") are the
    skew risk: ``min_df`` trims the long tail, and hot-term rows carry
    one big array each — cap or df-bucket upstream when a term's
    postings exceed executor row budgets (the standard shard-by-doc
    partitioned-index layout at 100 TB: build per doc-shard indexes,
    postings stay shard-local and readers merge)."""
    toks = (
        docs.select(
            F.col(key).alias("_doc"),
            F.explode(F.split(F.lower(F.col(text_col)), " ", -1)).alias(
                "term"
            ),
        )
        .where(F.length("term") > 0)
        .distinct()
    )
    grouped = toks.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sort_array(F.collect_list("_doc")).alias("_arr"),
    )
    gaps = F.transform(
        F.col("_arr"),
        lambda x, i: (
            x
            - F.when(i == 0, F.lit(0).cast("long")).otherwise(
                F.element_at(F.col("_arr"), i.cast("int"))
            )
        ).cast("string"),
    )
    return (
        grouped.where(F.col("df") >= min_df)
        .select("term", "df", F.array_join(gaps, ",").alias("postings"))
    )


def _bigram_pairs(
    docs: DataFrame, key: str, text_col: str
) -> DataFrame:
    """(key, p, w): one row per in-document bigram token.

    Built with TWO whole-array slices zipped, never per-element
    element_at(tk, i): higher-order-function lambdas run interpreted
    without common-subexpression elimination, so indexing the tk
    EXPRESSION inside the lambda re-ran split+filter once per element
    — O(tokens^2) string work per document (11.5s at sf0.1 in the
    bench suite; the zip shape measures 0.83s there, bounded by its
    two token-table shuffles)."""
    tk = F.filter(
        F.split(F.col(text_col), " +"), lambda x: F.length(x) > 0
    )
    toks = docs.select(F.col(key), tk.alias("_tk"))
    npairs = F.greatest(F.size("_tk") - 1, F.lit(0))
    zipped = F.arrays_zip(
        F.slice("_tk", 1, npairs).alias("p"),
        F.expr("slice(_tk, 2, greatest(size(_tk) - 1, 0))").alias("w"),
    )
    return toks.select(
        F.col(key), F.explode(zipped).alias("_pr")
    ).select(F.col(key), F.col("_pr.p").alias("p"), F.col("_pr.w").alias("w"))


def bigram_nll(
    docs: DataFrame, key: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(key, n_bigrams, nll_x1e6): per-document bigram negative
    log-likelihood under the corpus's own Laplace-smoothed bigram model
    p(w|prev) = (c(prev,w) + 1) / (c(prev) + V) — the order-sensitive
    upgrade of :func:`unigram_nll` (word-salad documents share the
    unigram distribution but not the transitions).

    Same scale/portability discipline as unigram_nll: bigram pairs come
    from an in-row array transform (no window, no self-join, see
    :func:`_bigram_pairs`), counts are two map-side-combined shuffles,
    the log term is fixed-pointed per bigram TYPE before the per-doc
    integer sum (partition-order invariant), and the model tables are
    vocabulary-sized broadcasts.  Documents with <2 tokens emit no
    row."""
    tk = F.filter(
        F.split(F.col(text_col), " +"), lambda x: F.length(x) > 0
    )
    pairs = _bigram_pairs(docs, key, text_col)
    bg = pairs.groupBy("p", "w").agg(F.count(F.lit(1)).alias("c"))
    pv = bg.groupBy("p").agg(F.sum("c").alias("cp"))
    vocab = (
        docs.select(F.explode(tk).alias("_w"))
        .agg(F.countDistinct("_w").cast("double").alias("v"))
    )
    lp = (
        bg.join(pv, "p")
        .crossJoin(F.broadcast(vocab))
        .select(
            "p",
            "w",
            F.floor(
                F.log(
                    (F.col("c") + 1).cast("double")
                    / (F.col("cp").cast("double") + F.col("v"))
                )
                * 1e6
            )
            .cast("long")
            .alias("lp"),
        )
    )
    return (
        pairs.join(F.broadcast(lp), ["p", "w"])
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (-F.sum("lp")).alias("nll_x1e6"),
        )
    )


def kneser_ney_nll(
    docs: DataFrame, key: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(key, n_bigrams, nll_x1e6): per-document bigram NLL under
    interpolated Kneser-Ney smoothing with absolute discount D = 3/4 —
    the smoothing real LM-quality filters (CCNet/KenLM) use, where the
    backoff weight of a word is its CONTINUATION count (how many
    distinct predecessors it follows), not its raw frequency.  Raw
    frequency over-scores words that are common only inside one frozen
    phrase; continuation counts fix exactly that, which is why KN
    separates boilerplate from fluent text better than Laplace
    (:func:`bigram_nll`).

    Exact-rational discipline: with D = 3/4,

        p(w|p) = (max(4c(p,w) - 3, 0) * NB + 3 * fwd(p) * bwd(w))
                 / (4 * c(p) * NB)

    where fwd(p) = distinct successors of p, bwd(w) = distinct
    predecessors of w, NB = distinct bigram types.  Numerator and
    denominator are exact BIGINTs; only the final ln(num/den) is
    float, fixed-pointed per bigram TYPE (floor x 1e6) before the
    per-doc integer sum — partition-order invariant and bit-replayable
    in SQL.  (4 * c(p) * NB can overflow int64 only past ~1e9 x 1e9
    count scales; widen to DECIMAL if a corpus ever gets there.)

    Scale shape: identical to :func:`bigram_nll` — in-row zipped pair
    arrays (no window over the corpus), two map-combined count
    shuffles, vocabulary-sized broadcast model tables.  Every observed
    bigram has c >= 1 so num >= NB > 0: no zero-probability terms."""
    pairs = _bigram_pairs(docs, key, text_col)
    bg = pairs.groupBy("p", "w").agg(F.count(F.lit(1)).alias("c"))
    pv = bg.groupBy("p").agg(
        F.sum("c").alias("cp"), F.count(F.lit(1)).alias("fwd")
    )
    bwd = bg.groupBy("w").agg(F.count(F.lit(1)).alias("bwd"))
    nb = bg.agg(F.count(F.lit(1)).alias("nb"))
    lp = (
        bg.join(pv, "p")
        .join(bwd, "w")
        .crossJoin(F.broadcast(nb))
        .select(
            "p",
            "w",
            F.floor(
                F.log(
                    (
                        F.greatest(4 * F.col("c") - 3, F.lit(0))
                        * F.col("nb")
                        + 3 * F.col("fwd") * F.col("bwd")
                    ).cast("double")
                    / (4 * F.col("cp") * F.col("nb")).cast("double")
                )
                * 1e6
            )
            .cast("long")
            .alias("lp"),
        )
    )
    return (
        pairs.join(F.broadcast(lp), ["p", "w"])
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (-F.sum("lp")).alias("nll_x1e6"),
        )
    )


def pmi_collocations(
    docs: DataFrame,
    k: int = 10,
    min_count: int = 5,
    key: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(p, w, c, pmi_x1e6): the corpus's top-``k`` collocations by
    pointwise mutual information pmi = ln(c(p,w) * T / (c(p,.) *
    c(.,w))), T = total bigram tokens, with a ``min_count`` floor (raw
    PMI without a floor surfaces hapaxes) — the phrase-mining pass a
    tokenizer/quality pipeline runs to find multi-word units.

    Determinism: fixed-point pmi per bigram type, full lexicographic
    order (pmi DESC, p, w) before the limit, so the cut is exact.
    Scale: one corpus pair shuffle + margin-table joins; the top-k is
    TakeOrdered (per-partition heads, no global sort shuffle).  c * T
    is BIGINT — widen to DECIMAL past ~1e9 x 1e9 token scales."""
    pairs = _bigram_pairs(docs, key, text_col)
    bg = pairs.groupBy("p", "w").agg(F.count(F.lit(1)).alias("c"))
    tot = bg.agg(F.sum("c").alias("t"))
    left = bg.groupBy("p").agg(F.sum("c").alias("cl"))
    right = bg.groupBy("w").agg(F.sum("c").alias("cr"))
    scored = (
        bg.where(F.col("c") >= min_count)
        .join(left, "p")
        .join(right, "w")
        .crossJoin(F.broadcast(tot))
        .select(
            "p",
            "w",
            "c",
            F.floor(
                F.log(
                    (F.col("c") * F.col("t")).cast("double")
                    / (F.col("cl") * F.col("cr")).cast("double")
                )
                * 1e6
            )
            .cast("long")
            .alias("pmi_x1e6"),
        )
    )
    return scored.orderBy(F.desc("pmi_x1e6"), "p", "w").limit(k)


def bpe_train(
    docs: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """(step, left_tok, right_tok, merged, pair_count): train a BPE
    merge table on the corpus — the tokenizer-construction pass every
    LLM data pipeline runs (Sennrich et al. 2016), distributed.

    Determinism contract: argmax pair by (weighted count DESC, left
    ASC, right ASC); within a word, merges apply GREEDILY left to
    right — for self-pairs (a,a) inside runs like "aaa" only every
    other occurrence merges, selected by run-distance parity (the
    overlap rule real BPE implementations apply scan-wise, expressed
    relationally so the oracle can replay it).

    Scale shape: the classic word-count trick — identical words
    collapse to (word, cnt) FIRST, so the iteration state is the
    token table of the VOCABULARY (chars of distinct words), not the
    corpus.  Each merge step is ONE pass over that table inside a
    single word-partitioned sort: lead() pair, weighted count (one
    skinny aggregate + driver argmax of one row), greedy-selection
    windows (run-distance parity + lag(consumed)), re-index; lineage
    cut per step.  n_merges driver rounds total — exactly the
    algorithm's sequential nature, nothing more."""
    words = (
        docs.select(
            F.explode(F.split(F.lower(F.col(text_col)), " +")).alias("w")
        )
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tokens = (
        words.select(
            "w",
            "cnt",
            F.posexplode(F.split(F.col("w"), "(?!^)")).alias("_i", "tok"),
        )
        # Spark split(limit=-1) keeps the trailing empty token the
        # end-of-string lookahead produces — drop it (it is always
        # last, so idx stays consecutive)
        .where(F.col("tok") != "")
        .select("w", "cnt", (F.col("_i") + 1).alias("idx"), "tok")
    )
    tokens = tokens.localCheckpoint()

    spark = docs.sparkSession
    w_word = Window.partitionBy("w").orderBy("idx")
    out = []
    for step in range(1, n_merges + 1):
        p = tokens.withColumn("nxt", F.lead("tok").over(w_word))
        top = (
            p.where(F.col("nxt").isNotNull())
            .groupBy("tok", "nxt")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.col("n").desc(), "tok", "nxt")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, n = top[0]["tok"], top[0]["nxt"], int(top[0]["n"])
        out.append((step, a, b, a + b, n))
        hit = (F.col("tok") == a) & (F.col("nxt") == b)
        last_miss = F.max(
            F.when(~hit, F.col("idx"))
        ).over(w_word.rowsBetween(Window.unboundedPreceding, 0))
        sel = hit & (
            (F.col("idx") - F.coalesce(last_miss, F.lit(0))) % 2 == 1
        )
        staged = p.withColumn("_sel", sel).withColumn(
            "_consumed",
            F.coalesce(F.lag("_sel").over(w_word), F.lit(False)),
        )
        prev_tokens = tokens
        tokens = (
            staged.where(~F.col("_consumed"))
            .select(
                "w",
                "cnt",
                F.row_number().over(w_word).alias("idx"),
                F.when(F.col("_sel"), F.concat("tok", "nxt"))
                .otherwise(F.col("tok"))
                .alias("tok"),
            )
            .localCheckpoint()
        )
        free_local_checkpoint(prev_tokens)
    return spark.createDataFrame(
        out,
        "step long, left_tok string, right_tok string, "
        "merged string, pair_count long",
    )


def bpe_token_counts(
    docs: DataFrame,
    n_merges: int = 8,
    key: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(key, n_tokens): per-document token count under the
    ``n_merges``-step BPE vocabulary trained by :func:`bpe_train` on
    the SAME corpus — the application half of tokenizer construction
    (the number every token-budget sampler and packing stage consumes;
    composes bpe_train with the word-count trick: per-WORD token
    lengths from the final token table join back to the documents'
    word multiset, so the expensive merge loop never touches the
    corpus, only the vocabulary)."""
    # retrain to obtain the final per-word segmentation (the loop in
    # bpe_train; the word-count trick makes this vocabulary-sized)
    words = (
        docs.select(
            F.explode(F.split(F.lower(F.col(text_col)), " +")).alias("w")
        )
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tokens = (
        words.select(
            "w",
            "cnt",
            F.posexplode(F.split(F.col("w"), "(?!^)")).alias("_i", "tok"),
        )
        .where(F.col("tok") != "")
        .select("w", "cnt", (F.col("_i") + 1).alias("idx"), "tok")
        .localCheckpoint()
    )
    w_word = Window.partitionBy("w").orderBy("idx")
    for _ in range(n_merges):
        p = tokens.withColumn("nxt", F.lead("tok").over(w_word))
        top = (
            p.where(F.col("nxt").isNotNull())
            .groupBy("tok", "nxt")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.col("n").desc(), "tok", "nxt")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b = top[0]["tok"], top[0]["nxt"]
        hit = (F.col("tok") == a) & (F.col("nxt") == b)
        last_miss = F.max(
            F.when(~hit, F.col("idx"))
        ).over(w_word.rowsBetween(Window.unboundedPreceding, 0))
        sel = hit & (
            (F.col("idx") - F.coalesce(last_miss, F.lit(0))) % 2 == 1
        )
        staged = p.withColumn("_sel", sel).withColumn(
            "_consumed",
            F.coalesce(F.lag("_sel").over(w_word), F.lit(False)),
        )
        prev_tokens = tokens
        tokens = (
            staged.where(~F.col("_consumed"))
            .select(
                "w",
                "cnt",
                F.row_number().over(w_word).alias("idx"),
                F.when(F.col("_sel"), F.concat("tok", "nxt"))
                .otherwise(F.col("tok"))
                .alias("tok"),
            )
            .localCheckpoint()
        )
        free_local_checkpoint(prev_tokens)
    per_word = tokens.groupBy("w").agg(
        F.count(F.lit(1)).alias("_ntok")
    )
    doc_words = docs.select(
        F.col(key),
        F.explode(F.split(F.lower(F.col(text_col)), " +")).alias("w"),
    ).where(F.col("w") != "")
    return (
        doc_words.join(per_word, "w")
        .groupBy(key)
        .agg(F.sum("_ntok").cast("long").alias("n_tokens"))
    )


def nb_classify(
    docs: DataFrame,
    label_col: str = "lang",
    key: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(key, pred, score_x1e6): multinomial Naive Bayes — train on the
    corpus's own labels, classify every document — the classic cheap
    document classifier every curation pipeline keeps around (domain
    tagging, quality routing).  Laplace-smoothed per-class word
    likelihoods; log terms fixed-pointed per (class, word) BEFORE
    summing (floor(ln p · 1e6) — the unigram_nll discipline, so the
    per-doc score is an exact integer sum and the argmax is
    engine-portable); argmax ties break to the smallest label.

    Scale shape: (1) per-(class, word) counts — one map-combined
    aggregate over the exploded corpus; (2) the model (vocab x classes
    + per-class unseen default) broadcasts; (3) scoring is one
    broadcast join + per-doc aggregate; (4) argmax via struct-max.
    Train and apply are one pass each — no iteration."""
    words = docs.select(
        F.col(key),
        F.col(label_col).alias("_y"),
        F.explode(F.split(F.lower(F.col(text_col)), " +")).alias("w"),
    ).where(F.col("w") != "")
    cls_word = words.groupBy("_y", "w").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    vocab_n = words.select("w").distinct().count()
    totals = cls_word.groupBy("_y").agg(F.sum("cnt").alias("tot"))
    priors = (
        docs.groupBy(F.col(label_col).alias("_y"))
        .agg(F.count(F.lit(1)).alias("nd"))
        .crossJoin(
            docs.agg(F.count(F.lit(1)).alias("ndall"))
        )
        .select(
            "_y",
            F.floor(F.log(F.col("nd") / F.col("ndall")) * 1e6)
            .cast("long")
            .alias("prior_x1e6"),
        )
    )
    lp = (
        cls_word.join(totals, "_y")
        .select(
            "_y",
            "w",
            F.floor(
                F.log((F.col("cnt") + 1) / (F.col("tot") + vocab_n)) * 1e6
            )
            .cast("long")
            .alias("lp"),
        )
    )
    lp0 = totals.select(
        "_y",
        F.floor(F.log(1.0 / (F.col("tot") + vocab_n)) * 1e6)
        .cast("long")
        .alias("lp0"),
    )
    # score every (doc, class): word terms via left join, unseen ->
    # the class default
    classes = priors.select("_y", "prior_x1e6").join(
        F.broadcast(lp0), "_y"
    )
    dw = words.select(key, "w")
    scored = (
        dw.crossJoin(F.broadcast(classes.select("_y", "lp0")))
        .join(F.broadcast(lp), ["_y", "w"], "left")
        .groupBy(key, "_y")
        .agg(
            F.sum(F.coalesce(F.col("lp"), F.col("lp0"))).alias("_wsum")
        )
    )
    total_score = (
        scored.join(F.broadcast(priors), "_y")
        .select(
            key,
            "_y",
            (F.col("_wsum") + F.col("prior_x1e6")).alias("score"),
        )
    )
    # argmax via a rank window — the candidate table is only
    # n_docs x n_classes rows, and (score DESC, label ASC) encodes the
    # deterministic tiebreak directly
    w_doc = Window.partitionBy(key).orderBy(
        F.col("score").desc(), F.col("_y").asc()
    )
    return (
        total_score.withColumn("_rk", F.row_number().over(w_doc))
        .where(F.col("_rk") == 1)
        .select(
            key,
            F.col("_y").alias("pred"),
            F.col("score").cast("long").alias("score_x1e6"),
        )
    )


def tf_dot_pairs(
    docs: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    min_dot: int = 2,
    max_df: int = 64,
) -> DataFrame:
    """(a, b, dot): document pairs (a < b) with the exact INTEGER
    term-frequency dot product sum_t tf_a(t)*tf_b(t) >= ``min_dot`` —
    the sparse similarity join behind cosine retrieval, run through an
    inverted index instead of dense vectors (the only way it exists at
    corpus scale).  Raw-count dot products stay integer-exact across
    engines; normalize to cosine downstream if ranking needs it (the
    per-doc norms are a cheap second aggregate).

    Scale shape — the dedup stop-shingle discipline on term postings:
    terms with document frequency > ``max_df`` are dropped BEFORE the
    posting self-join (stop terms carry negligible cosine weight and
    ALL the quadratic hazard), so per-term fanout is bounded at
    max_df^2.  The join is a posting-list equi-join on the term, then
    one map-combined (a, b) sum.  Tokens are lowercased
    whitespace-split words (the module's tfidf convention)."""
    tf = (
        docs.select(
            F.col(key).alias("_id"),
            F.explode(
                F.filter(
                    F.split(F.lower(F.col(text_col)), " +"),
                    lambda x: F.length(x) > 0,
                )
            ).alias("_t"),
        )
        .groupBy("_id", "_t")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    rare = (
        tf.groupBy("_t")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") <= F.lit(max_df))
        .select("_t")
    )
    p = tf.join(rare, "_t")
    q = p.select(
        F.col("_t"), F.col("_id").alias("_b"), F.col("_tf").alias("_tfb")
    )
    return (
        p.join(q, "_t")
        .where(F.col("_id") < F.col("_b"))
        .groupBy(F.col("_id").alias("a"), F.col("_b").alias("b"))
        .agg(F.sum(F.col("_tf") * F.col("_tfb")).alias("dot"))
        .where(F.col("dot") >= F.lit(min_dot))
    )


def compression_ratio(
    docs: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """(key, raw_len, zlib_len, ratio_x1000): per-document zlib
    compression ratio — the classic redundancy quality signal
    (Gopher/FineWeb-style filters drop documents that compress too
    WELL: boilerplate, keyword stuffing, generated spam — and ones
    that barely compress at all: binary junk, encrypted blobs).
    ``ratio_x1000`` = floor(1000 * compressed / raw) keeps the
    compared value integer.

    zlib with a FIXED level and strategy is deterministic for given
    bytes, so the signal is replayable — but it is not expressible in
    SQL, so this operator is certified by a python-replay
    differential (stdlib zlib on the same utf-8 bytes), not a DuckDB
    oracle; the honest-weaker-check note the multimodal codecs carry.
    Arrow-batched mapInPandas (stdlib zlib is C-speed; the Python tax
    is per-BATCH, not per-row); only (key, text) cross into Python
    and only (key, 3 ints) come back."""
    import pyarrow as pa

    out_schema = (
        f"{key} long, raw_len long, zlib_len long, ratio_x1000 long"
    )

    def fn(batches):
        import zlib

        for b in batches:
            keys = b.column(key).to_pylist()
            texts = b.column(text_col).to_pylist()
            raw, comp, ratio = [], [], []
            for t in texts:
                data = (t or "").encode("utf-8")
                c = len(zlib.compress(data, level))
                raw.append(len(data))
                comp.append(c)
                ratio.append(1000 * c // len(data) if data else 0)
            yield pa.RecordBatch.from_pydict(
                {
                    key: keys,
                    "raw_len": raw,
                    "zlib_len": comp,
                    "ratio_x1000": ratio,
                }
            )

    return docs.select(key, text_col).mapInArrow(fn, out_schema)


def blocklist_hits(
    docs: DataFrame,
    terms: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    term_col: str = "term",
) -> DataFrame:
    """(key, n_hits, n_terms, first_term): documents matched against a
    term blocklist (toxicity lists, spam lexicons, PII keywords) at
    the TOKEN level — the thousands-of-terms regime where compiling a
    giant alternation regex is both slow and wrong (no word
    boundaries).  n_hits counts total occurrences, n_terms the
    distinct blocklist terms present, first_term the alphabetically
    smallest (deterministic evidence sample).  Only documents with at
    least one hit return — the common case is a tiny fraction, so the
    output is filter-shaped.

    Scale shape: tokens explode once (the corpus-wide token stream
    every other text operator already pays), the blocklist broadcasts
    (it is KB-sized against a 100 TB corpus), and ONE map-combined
    per-doc aggregate closes it.  No regex whose cost grows with the
    list, no Python."""
    toks = docs.select(
        F.col(key).alias("_id"),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), " +"),
                lambda x: F.length(x) > 0,
            )
        ).alias("_t"),
    )
    bl = F.broadcast(
        terms.select(F.lower(F.col(term_col)).alias("_t")).distinct()
    )
    return (
        toks.join(bl, "_t")
        .groupBy(F.col("_id").alias(key))
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.countDistinct("_t").alias("n_terms"),
            F.min("_t").alias("first_term"),
        )
    )


def dsir_weights(
    docs: DataFrame,
    target: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    target_text_col: str | None = None,
) -> DataFrame:
    """(key, n_words, w_x1e6): DSIR-shape importance weights (Xie et
    al. 2023, arXiv:2302.03169 — Data Selection via Importance
    Resampling): per-document log p_target(x) - log p_source(x) under
    Laplace-smoothed unigram models, the source model estimated from
    ``docs`` themselves and the target model from the (much smaller)
    ``target`` exemplar corpus.  Documents scoring high look like the
    target distribution — sample them upstream of training-mix
    assembly (e.g. weighted_sample on exp(w), or a per-stratum top-k).

    Model + portability discipline is :func:`unigram_nll`'s: both
    models share ONE joint vocabulary (Laplace: p(w) = (c(w)+1) /
    (tot+V), so unseen-in-target words get mass and the weight stays
    finite); the per-word log-ratio is fixed-pointed to integers
    (floor(ln p x 1e6) per side, subtracted) before the per-doc sum,
    so aggregates are exact integer sums — partition-order invariant
    and engine-portable.  Scale shape: two vocabulary-sized count
    aggregates, one broadcast model join, one per-doc sum — the same
    two-shuffle plan as unigram_nll; the target corpus is
    dimension-sized by definition (it's the exemplar set)."""
    tcol = target_text_col or text_col
    words = docs.select(
        F.col(key),
        F.explode(F.split(F.col(text_col), " +")).alias("w"),
    ).where(F.length("w") > 0)
    twords = target.select(
        F.explode(F.split(F.col(tcol), " +")).alias("w")
    ).where(F.length("w") > 0)

    s_cnt = words.groupBy("w").agg(F.count(F.lit(1)).alias("sc"))
    t_cnt = twords.groupBy("w").agg(F.count(F.lit(1)).alias("tc"))
    vocab = (
        s_cnt.join(t_cnt, "w", "full_outer")
        .select(
            "w",
            F.coalesce("sc", F.lit(0)).alias("sc"),
            F.coalesce("tc", F.lit(0)).alias("tc"),
        )
    )
    tot = vocab.agg(
        F.sum("sc").alias("stot"),
        F.sum("tc").alias("ttot"),
        F.count(F.lit(1)).alias("v"),
    )
    model = vocab.crossJoin(F.broadcast(tot)).select(
        "w",
        (
            F.floor(
                F.log((F.col("tc") + 1) / (F.col("ttot") + F.col("v"))) * 1e6
            )
            - F.floor(
                F.log((F.col("sc") + 1) / (F.col("stot") + F.col("v"))) * 1e6
            )
        ).cast("long").alias("dlp_x1e6"),
    )
    return (
        words.join(F.broadcast(model), "w")
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("dlp_x1e6").alias("w_x1e6"),
        )
    )


def text_sign_projection(
    docs: DataFrame,
    out_dim: int = 8,
    key: str = "doc_id",
    text_col: str = "text",
    seed: int = 1,
) -> DataFrame:
    """(key, d, proj): a dense +-1 sign-projection sketch of the sparse
    token-count vector — the text-side Johnson-Lindenstrauss featurizer
    (the embedding-side twin is similarity.random_projection).  Each
    document's bag of words maps to ``out_dim`` exact BIGINT sums
    proj_d = sum_terms tf(term) * s(d, tid), with the sign drawn from a
    two-round integer mix of (term rank, dimension) — no projection
    matrix, no floats, SQL-replayable bit-for-bit.

    tid is the term's 1-based rank in the lexicographic vocabulary,
    computed DISTRIBUTED: a 2-char-prefix bucket partitions the
    in-bucket rank window (prefix order can never contradict term
    order, so bucket-offset + in-bucket rank == global rank), and the
    only global window runs over the BUCKET table (alphabet^2-bounded
    — the equidepth_layout prefix-histogram discipline), never the
    vocabulary in one task.  The mix stays inside int64 for
    vocabularies up to ~3e9 terms.  Scale shape: one token shuffle for
    tf, bucket-bounded rank windows, one bucket-offset broadcast, one
    partial-aggregatable groupBy(key) computing all out_dim sums."""
    from pyspark.sql import Window

    toks = docs.select(
        F.col(key), F.explode(F.split(F.col(text_col), " ", -1)).alias("term")
    ).where(F.length("term") > 0)
    tf = toks.groupBy(key, "term").agg(F.count(F.lit(1)).alias("w"))
    vterms = (
        tf.select("term")
        .distinct()
        .withColumn("_b", F.substring("term", 1, 2))
    )
    rin = vterms.withColumn(
        "_rin",
        F.row_number().over(Window.partitionBy("_b").orderBy("term")),
    )
    boff = (
        vterms.groupBy("_b")
        .agg(F.count(F.lit(1)).alias("_nb"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_nb").over(
                    Window.orderBy("_b").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("_b", "_off")
    )
    vocab = rin.join(F.broadcast(boff), "_b").select(
        "term", (F.col("_off") + F.col("_rin")).cast("long").alias("tid")
    )
    feats = tf.join(vocab, "term")

    def sign(d: int):
        m1 = (
            F.col("tid") * 2654435761 + F.lit(d * 7919 + int(seed))
        ) % 4294967296
        m2 = (m1 * 48271) % 4294967296
        return F.when(m2 < 2147483648, F.lit(1)).otherwise(F.lit(-1))

    wide = feats.groupBy(key).agg(
        *[F.sum(sign(d) * F.col("w")).alias(f"_p{d}") for d in range(out_dim)]
    )
    stack = ", ".join(f"CAST({d} AS BIGINT), _p{d}" for d in range(out_dim))
    return wide.select(
        key, F.expr(f"stack({out_dim}, {stack}) AS (d, proj)")
    )


def zipf_slope(
    docs: DataFrame,
    group_col: str = "lang",
    top_k: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """(group, n_types, n_tokens, slope_u4): the Zipf log-log slope of
    the top-``top_k`` token frequencies per group — the corpus-health
    diagnostic (natural language sits near -1; log-uniform synthetic or
    boilerplate-flooded corpora drift far off).

    Least squares of ln(freq) on ln(rank) over the top-k types, with
    BOTH regressors quantized to 1e-6 BIGINTs *before* any sum — float
    summation order never matters, so the slope is bit-stable across
    engines; the single closing division is one exact-rounded IEEE op.
    The five SUMS are exact int64 (``top_k`` capped at 500 keeps
    every sum term bounded even at 10^12-token groups); the closing
    covariance products are computed in DOUBLE on both engines —
    identical exact-rounded IEEE ops on identical sums, never an
    int64 product that Spark would wrap silently while a HUGEINT
    engine keeps exact.  Groups with fewer than 2 ranked types are
    dropped (no regression line exists; the SQL twin filters k >= 2
    too).

    Scale shape: one token shuffle for counts, a per-group top-k
    window over the type table (vocabulary-sized, Zipf-bounded), then
    a five-sum aggregate per group."""
    from pyspark.sql import Window

    if top_k > 500:
        raise ValueError(
            f"top_k={top_k} overflows the int64 closing products; max 500"
        )
    toks = docs.select(
        F.col(group_col).alias("g"),
        F.explode(F.split(F.col(text_col), " ", -1)).alias("term"),
    ).where(F.length("term") > 0)
    freq = toks.groupBy("g", "term").agg(F.count(F.lit(1)).alias("f"))
    w = Window.partitionBy("g").orderBy(F.desc("f"), F.asc("term"))
    top = freq.withColumn("r", F.row_number().over(w)).where(
        F.col("r") <= top_k
    )
    q = top.select(
        "g",
        "f",
        F.floor(F.log(F.col("r").cast("double")) * 1e6)
        .cast("long")
        .alias("x"),
        F.floor(F.log(F.col("f").cast("double")) * 1e6)
        .cast("long")
        .alias("y"),
    )
    agg = q.groupBy("g").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    tot = freq.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("f").alias("n_tokens"),
    )
    return (
        agg.where(F.col("k") >= 2)
        .join(tot, "g")
        .select(
            F.col("g").alias(group_col),
            "n_types",
            "n_tokens",
            F.floor(
                (
                    (
                        F.col("k").cast("double") * F.col("sxy").cast("double")
                        - F.col("sx").cast("double") * F.col("sy").cast("double")
                    )
                    / (
                        F.col("k").cast("double") * F.col("sxx").cast("double")
                        - F.col("sx").cast("double") * F.col("sx").cast("double")
                    )
                )
                * 1e4
            )
            .cast("long")
            .alias("slope_u4"),
        )
    )


def heaps_law(
    docs: DataFrame,
    group_col: str = "lang",
    checkpoints: int = 10,
    key: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(group, checkpoint, n_docs, n_tokens, n_types, beta_u4): the
    vocabulary-growth curve V(N) sampled at ``checkpoints`` document-
    count prefixes per group (docs ordered by ``key``), plus the
    Heaps-law exponent beta from ln V on ln N least squares over the
    checkpoints (natural text sits near 0.4-0.8; a closed vocabulary
    saturates toward 0).

    The curve needs no per-checkpoint rescan: each term contributes at
    its FIRST-occurrence document rank, so V at a checkpoint is a
    count of first-ranks <= cutoff and N is a sum of token counts with
    rank <= cutoff — two skinny aggregates joined to a checkpoint
    table ``checkpoints`` rows long.  The regression reuses the
    quantize-before-sum rule (ln values -> 1e-6 BIGINTs; closing
    covariance products in DOUBLE on both engines, same as
    zipf_slope, so no int64 product can wrap); groups whose kept
    checkpoints share one x (all-equal token counts — an empty tail)
    are dropped rather than dividing 0/0.  The per-group doc rank
    window is the only corpus-sized
    window (rank by the natural unique key — WindowGroupLimit does not
    apply, but the partition is a group's doc list, the same bound as
    every per-group sessionization window here)."""
    from pyspark.sql import Window

    if checkpoints < 2 or checkpoints > 100:
        raise ValueError("checkpoints must be in [2, 100]")
    ranked = docs.select(
        F.col(group_col).alias("g"), F.col(key).alias("_k"), text_col
    ).withColumn(
        "rn", F.row_number().over(Window.partitionBy("g").orderBy("_k"))
    )
    toks = ranked.select(
        "g",
        "rn",
        F.explode(F.split(F.col(text_col), " ", -1)).alias("term"),
    ).where(F.length("term") > 0)
    # per (group, term): first-occurrence rank; per (group, rank): tokens
    first = toks.groupBy("g", "term").agg(F.min("rn").alias("fr"))
    per_doc = toks.groupBy("g", "rn").agg(F.count(F.lit(1)).alias("tok"))
    nd = ranked.groupBy("g").agg(F.max("rn").alias("n_docs_total"))
    cps = nd.select(
        "g",
        "n_docs_total",
        F.explode(
            F.expr(
                f"transform(sequence(1, {checkpoints}),"
                f" c -> (CAST(c AS BIGINT) * CAST(n_docs_total AS BIGINT))"
                f" div {checkpoints})"
            )
        ).alias("cut"),
    ).where(F.col("cut") >= 1).distinct()
    v = (
        cps.join(first, "g")
        .where(F.col("fr") <= F.col("cut"))
        .groupBy("g", "cut")
        .agg(F.count(F.lit(1)).alias("n_types"))
    )
    ntok = (
        cps.join(per_doc, "g")
        .where(F.col("rn") <= F.col("cut"))
        .groupBy("g", "cut")
        .agg(F.sum("tok").alias("n_tokens"))
    )
    curve = v.join(ntok, ["g", "cut"])
    q = curve.select(
        "g",
        "cut",
        "n_types",
        "n_tokens",
        F.floor(F.log(F.col("n_tokens").cast("double")) * 1e6)
        .cast("long")
        .alias("x"),
        F.floor(F.log(F.col("n_types").cast("double")) * 1e6)
        .cast("long")
        .alias("y"),
    )
    fit = (
        q.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.countDistinct("x").alias("kx"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
        # kx >= 2 also guards the 0/0 slope of an all-equal-x curve
        # (empty tail documents): integer-exact variance-positivity
        .where((F.col("k") >= 2) & (F.col("kx") >= 2))
        .select(
            "g",
            F.floor(
                (
                    (
                        F.col("k").cast("double") * F.col("sxy").cast("double")
                        - F.col("sx").cast("double") * F.col("sy").cast("double")
                    )
                    / (
                        F.col("k").cast("double") * F.col("sxx").cast("double")
                        - F.col("sx").cast("double") * F.col("sx").cast("double")
                    )
                )
                * 1e4
            )
            .cast("long")
            .alias("beta_u4"),
        )
    )
    return (
        q.join(fit, "g")
        .select(
            F.col("g").alias(group_col),
            F.col("cut").alias("checkpoint"),
            "n_tokens",
            "n_types",
            "beta_u4",
        )
    )


def source_quality_daily(
    docs: DataFrame,
    day_col: str = "day",
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """(qk, day, cnt): per-(source, day) EXACT mean alpha-micro quality
    — ``q_u = (1e6 * n_alpha) div n_chars`` per doc (regexp strip,
    zero-length docs drop), ``cnt = sum(q_u) div count``.  The ONE
    quality-series builder shared by the batch drift monitor and its
    streaming twin (streaming/trend.stream_source_quality_daily): sum
    and count are incrementally-maintainable aggregates, and the
    integer division is a post-aggregation projection, so the same
    plan runs batch or streaming unchanged."""
    q_u = (
        f"(1000000 * (length({text_col}) - length(regexp_replace("
        f"{text_col}, '[A-Za-z]', '')))) div length({text_col})"
    )
    return (
        docs.where(F.length(F.col(text_col)) > 0)
        .selectExpr(
            f"{source_col} AS qk", f"{day_col} AS day", f"{q_u} AS _qu"
        )
        .groupBy("qk", "day")
        .agg(F.expr("sum(_qu) div count(1)").alias("cnt"))
    )


def quality_drift_by_source(
    docs: DataFrame,
    day_col: str = "day",
    source_col: str = "source",
    text_col: str = "text",
    z_mu: int = 1960,
    k_shift: int = 10**9,
) -> DataFrame:
    """(source, n_days, s_stat, c_alpha, trend, slope_mu, degrading):
    per-SOURCE document-quality drift — the spam-onset / template-rot
    monitor a continuous-crawl pipeline runs on every refresh: a
    source whose mean quality trends down is flagged before its
    documents flood the training mix.

    Quality per doc is the exact alpha-ratio in micro-units —
    ``q_u = (1e6 * n_alpha) div n_chars`` with n_alpha counted by
    regexp strip (both engines replace ALL matches; zero-length docs
    drop) — then per (source, day) the exact mean ``sum(q_u) div
    count``, and the keyed daily series feeds the shared trend
    machinery verbatim: the Mann-Kendall decision
    (operators/tiling.mann_kendall_from_daily — S, tie-corrected
    variance, portable isqrt, continuity-corrected integer decision)
    plus the Sen milli-slope median (the tile_theil_sen rank rule) in
    quality-micro-units per day.  ``degrading`` = (trend == -1).

    Scale shape: one corpus pass computes q_u natively (regexp +
    integer div inside codegen, no Python), one map-side-combined
    shuffle to (source, day), and everything after runs on the
    bounded sources x days table.  Sources with one observed day are
    excluded (no trend defined).
    """
    from pyspark.sql import Window

    from geo_spark.operators.tiling import (
        _daily_pair_slopes,
        mann_kendall_from_daily,
    )

    daily = source_quality_daily(docs, day_col, source_col, text_col)
    mk = mann_kendall_from_daily(daily, z_mu)
    w = Window.partitionBy("qk").orderBy("slope_mu")
    med = (
        _daily_pair_slopes(daily, k_shift)
        .select(
            "qk",
            "slope_mu",
            F.row_number().over(w).alias("_rn"),
            F.count(F.lit(1)).over(Window.partitionBy("qk")).alias("_n"),
        )
        .where(F.col("_rn") == F.expr("(_n + 1) div 2"))
        .select("qk", "slope_mu")
    )
    return (
        mk.join(med, "qk")
        .select(
            F.col("qk").alias("source"),
            "n_days",
            "s_stat",
            "c_alpha",
            "trend",
            "slope_mu",
            (F.col("trend") == -1).alias("degrading"),
        )
    )
