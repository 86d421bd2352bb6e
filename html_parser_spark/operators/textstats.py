"""Text-analysis operators over the ``documents`` table.

All of these are pure built-in-function pipelines (zero Python in the hot
path — whole-stage codegen end to end), and each has an exact ANSI-SQL
twin in ``__spark_entry__.oracle_sql`` so the driver can differentially
check values against DuckDB.  Design rule for parity: only deterministic
primitives that exist identically in both engines (md5 hex, regexp with
trivial patterns, lexicographic min, integer arithmetic, ROUND on
double).

At 100 TB these stay embarrassingly parallel: no shuffle at all for the
per-doc feature queries (scan → project), one partial+final aggregation
for the rollups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

# shared stopword lists — mirrored literally in the SQL oracles; the
# canonical tuples live Spark-free in functions/stopwords.py so the DOM
# scorer can import them without dragging Spark in
from ..functions.stopwords import STOP_DE, STOP_EN, STOP_ES, STOP_FR  # noqa: E402,F401
from ..functions.textnorm import SQL_WS
from .dedup import NORM_SQL, _norm, _ws_tokens, word_ngrams


# The operating point both engines read.  The sketch settings (HLL++
# relative error, percentile accuracy) are Spark-only; the DuckDB twins
# oracle their error contracts as literal TRUE columns.
HLL_RSD = 0.02
QUANTILE_ACCURACY = 10000
NGRAM_TOP = 20
VOCAB_K = 1000


def _sql_list(words) -> str:
    return ", ".join(f"'{w}'" for w in words)


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting + length features per document, plus
    the document fingerprint: md5 over the normalized text (the
    exact-dedup key) and its length.  Both are single-projection
    expressions over the same scan, so they share one gate row."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # un-lowered: ``lower`` can change a token's length (U+0130)
    toks = _ws_tokens(F.col("text"))
    avg_len = F.when(
        F.size(toks) > 0,
        F.aggregate(
            F.transform(toks, lambda w: F.length(w).cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / F.size(toks),
    ).otherwise(F.lit(0.0))
    norm = _norm()
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("char_count"),
        F.size(toks).cast("long").alias("token_count"),
        # basis points via floor: deterministic across engines (ROUND
        # tie-breaking differs between Spark HALF_UP and DuckDB)
        F.floor(avg_len * 10000).cast("long").alias("avg_token_len_bp"),
        F.md5(norm).alias("fingerprint"),
        F.length(norm).cast("long").alias("norm_len"),
    )


def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jusText/Boilerpipe-style quality features: punctuation density,
    alphabetic ratio, stopword ratio, and a composite score."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = F.greatest(F.length("text"), F.lit(1))
    punct = F.length("text") - F.length(F.regexp_replace("text", r"[.,;:!?]", ""))
    alpha = F.length(F.regexp_replace("text", "[^a-zA-Z]", ""))
    toks = _ws_tokens(F.lower("text"))
    stop_hits = F.size(F.filter(toks, lambda w: w.isin(*STOP_EN)))
    tok_n = F.greatest(F.size(toks), F.lit(1))
    punct_ratio = punct.cast("double") / n
    alpha_ratio = alpha.cast("double") / n
    stop_ratio = stop_hits.cast("double") / tok_n
    # all ratios exported as floor basis points (see token_stats note)
    return docs.select(
        "doc_id",
        F.floor(punct_ratio * 10000).cast("long").alias("punct_bp"),
        F.floor(alpha_ratio * 10000).cast("long").alias("alpha_bp"),
        F.floor(stop_ratio * 10000).cast("long").alias("stop_bp"),
        F.floor(
            (alpha_ratio * 0.5 + stop_ratio * 0.4 - punct_ratio * 0.1) * 10000
        ).cast("long").alias("quality_bp"),
    )


def quality_scores_sql() -> str:
    punct = ("(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) "
             "* 1.0 / greatest(length(text), 1)")
    alpha = ("length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 "
             "/ greatest(length(text), 1)")
    stop = (f"len(list_filter(regexp_split_to_array(lower(trim(text)), '{SQL_WS}+'), "
            f"w -> w IN ({_sql_list(STOP_EN)}))) * 1.0 "
            "/ greatest(CASE WHEN trim(text) = '' THEN 0 "
            f"ELSE len(regexp_split_to_array(trim(text), '{SQL_WS}+')) END, 1)")
    return f"""
    SELECT doc_id,
           CAST(floor(({punct}) * 10000) AS BIGINT) AS punct_bp,
           CAST(floor(({alpha}) * 10000) AS BIGINT) AS alpha_bp,
           CAST(floor(({stop}) * 10000) AS BIGINT) AS stop_bp,
           CAST(floor((({alpha}) * 0.5 + ({stop}) * 0.4 - ({punct}) * 0.1) * 10000)
                AS BIGINT) AS quality_bp
    FROM documents
    """


def langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram-free heuristic language ID: stopword-hit argmax over
    {en,fr,de,es} with a fixed tie-break order."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = _ws_tokens(F.lower("text"))
    def _hits(stops):
        # NB: the lambda must take exactly one arg — a second parameter
        # makes Spark pass the element index instead
        return F.size(F.filter(toks, lambda w: w.isin(*stops)))

    hits = {
        lang: _hits(stops)
        for lang, stops in (
            ("en", STOP_EN),
            ("fr", STOP_FR),
            ("de", STOP_DE),
            ("es", STOP_ES),
        )
    }
    best = (
        F.when(
            (hits["en"] >= hits["fr"])
            & (hits["en"] >= hits["de"])
            & (hits["en"] >= hits["es"]),
            F.lit("en"),
        )
        .when((hits["fr"] >= hits["de"]) & (hits["fr"] >= hits["es"]), F.lit("fr"))
        .when(hits["de"] >= hits["es"], F.lit("de"))
        .otherwise(F.lit("es"))
    )
    pred = F.when(
        (hits["en"] + hits["fr"] + hits["de"] + hits["es"]) == 0, F.lit("und")
    ).otherwise(best)
    return docs.select(
        "doc_id",
        "lang",
        pred.alias("pred_lang"),
        hits["en"].cast("long").alias("en_hits"),
    )


def langid_sql() -> str:
    def hits(stops):
        return (
            f"len(list_filter(regexp_split_to_array(lower(trim(text)), '{SQL_WS}+'), "
            f"w -> w IN ({_sql_list(stops)})))"
        )

    en, fr, de, es = hits(STOP_EN), hits(STOP_FR), hits(STOP_DE), hits(STOP_ES)
    return f"""
    SELECT doc_id, lang,
           CASE WHEN ({en} + {fr} + {de} + {es}) = 0 THEN 'und'
                WHEN {en} >= {fr} AND {en} >= {de} AND {en} >= {es} THEN 'en'
                WHEN {fr} >= {de} AND {fr} >= {es} THEN 'fr'
                WHEN {de} >= {es} THEN 'de'
                ELSE 'es' END AS pred_lang,
           {en} AS en_hits
    FROM documents
    """


def length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length quantiles — corpus profiling (exact
    ``percentile``: single-pass sort-based; for 100 TB swap to
    ``approx_percentile`` with a documented error bound).  Spark's exact
    interpolation is bit-identical to DuckDB ``quantile_cont`` (verified
    at sf0.001 and sf0.01), so no rounding is needed.

    ``approx_rank_ok`` additionally value-checks the Greenwald-Khanna
    sketch's RANK contract in the same row (VERDICT r03 item 3): for
    each q, the value ``approx_percentile(q)`` returns must occupy a
    rank interval ``[#{x<v}+1, #{x≤v}]`` that intersects
    ``[(q−ε)n, (q+ε)n+1]`` with ε = 0.005 (50× the sketch's guaranteed
    1/QUANTILE_ACCURACY).  The check is two aggregation passes — sketch first,
    then a broadcast join back for exact conditional rank counts —
    because rank counts of an aggregate can't nest in one pass.
    Deterministic sketch + deterministic data → a stable boolean the
    DuckDB twin (which cannot evaluate Spark's sketch) oracles as the
    literal TRUE it must equal."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "source", "n_chars"
    )
    qs = (0.25, 0.5, 0.9, 0.99)
    eps = 0.005
    ap = F.expr(
        "approx_percentile(n_chars, array(0.25, 0.5, 0.9, 0.99), "
        f"{QUANTILE_ACCURACY})"
    )
    approx = docs.groupBy("source").agg(ap.alias("ap"))
    j = docs.join(F.broadcast(approx), "source")
    n = F.count(F.lit(1))
    q = F.expr("percentile(n_chars, array(0.25, 0.5, 0.9, 0.99))")
    ok = F.lit(True)
    for i, qv in enumerate(qs):
        v = F.col("ap").getItem(i)
        le = F.sum((F.col("n_chars") <= v).cast("long"))
        lt = F.sum((F.col("n_chars") < v).cast("long"))
        ok = (
            ok
            & (lt + 1 <= (qv + eps) * n + 1)
            & (le >= (qv - eps) * n)
        )
    return (
        j.groupBy("source")
        .agg(
            n.alias("n_docs"),
            q.getItem(0).alias("p25"),
            q.getItem(1).alias("p50"),
            q.getItem(2).alias("p90"),
            q.getItem(3).alias("p99"),
            ok.cast("long").alias("approx_rank_ok"),
        )
        .orderBy("source")
    )


def length_quantiles_sql() -> str:
    return f"""
    SELECT source, count(*) AS n_docs,
           quantile_cont(n_chars, 0.25) AS p25,
           quantile_cont(n_chars, 0.5)  AS p50,
           quantile_cont(n_chars, 0.9)  AS p90,
           quantile_cont(n_chars, 0.99) AS p99,
           CAST(1 AS BIGINT) AS approx_rank_ok
    FROM documents GROUP BY source ORDER BY source
    """


def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source distinct-fingerprint cardinality (dedup-rate
    profiling) PLUS the HLL++ sketch's error-band check in the same row.

    Exact COUNT DISTINCT shuffles every distinct key — fine at CI scale
    and as the oracle; the 100 TB path is :func:`distinct_counts_approx`.
    ``approx_within_5pct`` asserts ``|HLL++(rsd=0.02) − exact| ≤
    max(5%·exact, 2)`` — the sketch is deterministic for a given input,
    so the boolean is stable, and the DuckDB twin (which cannot evaluate
    Spark's sketch) oracles it as the literal TRUE it must equal
    (VERDICT r03 item 3: this retires the ``no_oracle`` row for the
    approx sketch by value-checking its error contract at the gate)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = F.count_distinct(F.col("fp"))
    approx = F.approx_count_distinct("fp", HLL_RSD)
    within = F.abs(approx - exact) <= F.greatest(
        F.ceil(exact * F.lit(0.05)), F.lit(2)
    )
    return (
        docs.select("source", F.md5(_norm()).alias("fp"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            exact.alias("n_distinct"),
            within.cast("long").alias("approx_within_5pct"),
        )
        .orderBy("source")
    )


def distinct_counts_sql() -> str:
    return f"""
    SELECT source, count(*) AS n_docs,
           count(DISTINCT md5({NORM_SQL}))
               AS n_distinct,
           CAST(1 AS BIGINT) AS approx_within_5pct
    FROM documents GROUP BY source ORDER BY source
    """


def length_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles — the 100 TB path (Greenwald-Khanna style
    mergeable summaries, bounded memory per group, vs the exact
    percentile's full sort).  Approximate by construction → rows-only
    driver check; pytest bounds the error vs the exact quantiles."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = F.expr(
        "approx_percentile(n_chars, array(0.25, 0.5, 0.9, 0.99), "
        f"{QUANTILE_ACCURACY})"
    )
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            q.getItem(0).alias("p25"),
            q.getItem(1).alias("p50"),
            q.getItem(2).alias("p90"),
            q.getItem(3).alias("p99"),
        )
        .orderBy("source")
    )


def distinct_counts_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ cardinality sketch — the scale path: fixed-size
    sketch per group, map-side mergeable, no distinct-key shuffle.
    Approximate by construction (driver check is rows-only; pytest
    asserts ≤5% error vs the exact count)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.select("source", F.md5(_norm()).alias("fp"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.approx_count_distinct("fp", HLL_RSD).alias("n_distinct_approx"),
        )
        .orderBy("source")
    )


def ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide most-frequent word 3-grams (all occurrences — unlike
    the dedup shingles, NOT per-doc-distinct), the staple corpus-statistics
    pass of a pretraining pipeline (boilerplate discovery, contamination
    spot checks).

    Plan at 100 TB: scan → explode → hash aggregate with map-side partial
    combine (one shuffle keyed on the gram) → TakeOrderedAndProject for
    the top slice.  Ties are broken by the gram itself so the result is
    deterministic across engines and partitionings."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tri = word_ngrams(F.split(_norm(), " "), 3)
    return (
        docs.select(F.explode(tri).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("gram"))
        .limit(NGRAM_TOP)
    )


def repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition quality signals per document — the
    standard pretraining-corpus filter family (Rae et al. 2021 "Scaling
    Language Models" §A1.1; Raffel et al. 2020 C4 heuristics):

    - ``dup_line_bp``       fraction of lines that are exact duplicates
      (all occurrences of any line appearing >1×), basis points
    - ``dup_char_bp``       fraction of line characters inside those
      duplicated lines
    - ``top_bigram_cnt``    occurrence count of the most frequent word
      2-gram (ties → lexicographically greatest gram, both engines)
    - ``top_bigram_char_bp`` characters covered by that bigram
      (count × gram length) over the normalized text length
    - ``bullet_line_bp``    lines starting with ``-``/``*`` (after
      space-ltrim)
    - ``ellipsis_line_bp``  lines ending with ``...`` (after rtrim)
    - ``gopher_keep``       1 iff all signals are inside the Gopher
      operating points (<30% dup lines, <20% dup chars, <18% top-bigram
      coverage, <90% bullets, <30% ellipses)

    Scale shape: every feature is a LOCAL higher-order-function pipeline
    over the row's own arrays — scan → project, ZERO shuffles at 100 TB
    (per-doc stats never justify exploding 10^12 lines through an
    exchange).  Duplicate detection is ``array_sort`` + neighbor
    equality (O(L log L) per doc, not the naive O(L²) count-each-line),
    and the top bigram is a single ``F.aggregate`` run-length pass over
    the sorted bigram array.  The DuckDB twin deliberately uses the
    opposite formulation (unnest → GROUP BY → window) so the oracle is
    an independent derivation, not an echo."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return repetition_signals(docs)


def filter_quality(docs: DataFrame) -> DataFrame:
    """Gopher-gate a documents frame IN PLACE: same signals as
    :func:`repetition_filters`, computed inline over ``docs`` with every
    original column threaded through the projection, then filtered on
    ``gopher_keep`` — scan → project → filter, ZERO shuffles and ONE
    scan.  This is the corpus-job form: the keep-list-then-semi-join
    formulation reads the documents twice and shuffles the full text
    through a SortMergeJoin (the signals frame's size estimate is
    unknown, so the join never broadcasts) — measured 7.8× wall per 10×
    data at sf1.0 (BENCH.md round 4) where every other stage was
    sub-linear.  Inline, the quality gate is embarrassingly parallel at
    any scale."""
    through = tuple(c for c in docs.columns if c != "doc_id")
    sig = repetition_signals(docs, passthrough=through)
    return sig.filter(F.col("gopher_keep") == 1).select(*docs.columns)


def repetition_signals(
    docs: DataFrame, passthrough: tuple = ()
) -> DataFrame:
    """Signal computation shared by :func:`repetition_filters` (bare,
    gate-oracled) and :func:`filter_quality` (inline, ``passthrough``
    carries the document columns through the Generate barriers so the
    caller can filter without re-joining text)."""
    # Generate barriers (same lesson as the MinHash signatures, BENCH.md
    # round-3 session 2): each stage materializes the arrays the next
    # stage references more than once — without them CollapseProject
    # fuses everything into one projection where e.g. array_sort(lines)
    # is inlined ~9x and the run-length bigram aggregate 3x per row
    # (measured: the quality stage of the sf0.1 corpus job spent 262 s
    # on 97k extracted docs; the staged form is ~linear).  A barrier is
    # explode(array(struct(...))): one row in, one row out, no shuffle.
    def _barrier(frame, **exprs):
        assert not set(exprs) & set(passthrough), "barrier name collision"
        return frame.select(
            "doc_id",
            *passthrough,
            F.explode(
                F.array(F.struct(*[e.alias(k) for k, e in exprs.items()]))
            ).alias("b"),
        ).select("doc_id", *passthrough, "b.*")

    s1 = _barrier(
        docs,
        lines=F.split("text", "\n"),
        ws=F.split(_norm(), " "),
        norm_len=F.length(_norm()),
    )

    lines = F.col("lines")
    n_lines = F.size(lines)
    bigrams = word_ngrams(F.col("ws"), 2)
    lsum = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long")
    )
    s2 = _barrier(
        s1,
        n_lines=n_lines,
        srt=F.array_sort(lines),
        tot_chars=lsum(F.transform(lines, lambda x: F.length(x))),
        bullet_cnt=F.size(
            F.filter(
                lines,
                lambda l: F.startswith(F.ltrim(l), F.lit("-"))
                | F.startswith(F.ltrim(l), F.lit("*")),
            )
        ),
        ellipsis_cnt=F.size(
            F.filter(lines, lambda l: F.endswith(F.rtrim(l), F.lit("...")))
        ),
        bigrams_srt=F.array_sort(bigrams),
        norm_len=F.col("norm_len"),
    )

    # eq[i] = 1 iff sorted[i] == sorted[i+1]  (length L-1; empty for L=1)
    run_n = F.greatest(F.col("n_lines") - 1, F.lit(0))
    eq = F.zip_with(
        F.slice("srt", 1, run_n),
        F.slice("srt", 2, run_n),
        lambda a, b: F.when(a == b, F.lit(1)).otherwise(F.lit(0)),
    )
    zero = F.array(F.lit(0))
    # line i is a duplicate iff equal to its sorted predecessor OR successor
    dup_flags = F.zip_with(
        F.concat(zero, eq), F.concat(eq, zero), lambda a, b: F.greatest(a, b)
    )

    # run-length max over the sorted bigram array: one linear aggregate,
    # struct accumulator (prev, run, best, best_gram)
    def _merge(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        better = (run > acc["best"]) | (
            (run == acc["best"]) & (x > acc["best_gram"])
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(better, run).otherwise(acc["best"]).alias("best"),
            F.when(better, x).otherwise(acc["best_gram"]).alias("best_gram"),
        )

    top = F.aggregate(
        F.col("bigrams_srt"),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
            F.lit("").alias("best_gram"),
        ),
        _merge,
        lambda acc: F.struct(
            acc["best"].alias("cnt"), acc["best_gram"].alias("gram")
        ),
    )
    s3 = _barrier(
        s2,
        n_lines=F.col("n_lines"),
        n_dup=lsum(dup_flags),
        dup_chars=lsum(
            F.zip_with(F.col("srt"), dup_flags, lambda x, fl: fl * F.length(x))
        ),
        tot_chars=F.col("tot_chars"),
        bullet_cnt=F.col("bullet_cnt"),
        ellipsis_cnt=F.col("ellipsis_cnt"),
        top=top,
        norm_len=F.col("norm_len"),
    )

    top_cnt = F.col("top")["cnt"].cast("long")
    top_chars = F.col("top")["cnt"].cast("long") * F.length(F.col("top")["gram"])
    norm_len = F.greatest(F.col("norm_len"), F.lit(1))

    bp = lambda num, den: F.floor(  # noqa: E731
        num.cast("double") * 10000.0 / F.greatest(den, F.lit(1)).cast("double")
    ).cast("long")
    dup_line_bp = bp(F.col("n_dup"), F.col("n_lines"))
    dup_char_bp = bp(F.col("dup_chars"), F.col("tot_chars"))
    top_bigram_char_bp = bp(top_chars, norm_len)
    bullet_line_bp = bp(F.col("bullet_cnt"), F.col("n_lines"))
    ellipsis_line_bp = bp(F.col("ellipsis_cnt"), F.col("n_lines"))
    keep = (
        (dup_line_bp < 3000)
        & (dup_char_bp < 2000)
        & (top_bigram_char_bp < 1800)
        & (bullet_line_bp < 9000)
        & (ellipsis_line_bp < 3000)
    )
    return s3.select(
        "doc_id",
        *passthrough,
        F.col("n_lines").cast("long").alias("n_lines"),
        dup_line_bp.alias("dup_line_bp"),
        dup_char_bp.alias("dup_char_bp"),
        top_cnt.alias("top_bigram_cnt"),
        top_bigram_char_bp.alias("top_bigram_char_bp"),
        bullet_line_bp.alias("bullet_line_bp"),
        ellipsis_line_bp.alias("ellipsis_line_bp"),
        F.when(keep, F.lit(1)).otherwise(F.lit(0)).cast("long").alias("gopher_keep"),
    )


def repetition_filters_sql() -> str:
    """DuckDB twin via the relational formulation (unnest → GROUP BY →
    window) — an independent derivation of the same integers."""
    split = f"string_split({NORM_SQL}, ' ')"
    return f"""
    WITH l AS (
      SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM documents),
    lc AS (
      SELECT doc_id, line, count(*) AS cnt,
             count(*) * length(line) AS chars
      FROM l GROUP BY doc_id, line),
    la AS (
      SELECT doc_id,
             CAST(sum(cnt) AS BIGINT) AS n_lines,
             CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS n_dup,
             CAST(sum(CASE WHEN cnt > 1 THEN chars ELSE 0 END) AS BIGINT) AS dup_chars,
             CAST(sum(chars) AS BIGINT) AS tot_chars
      FROM lc GROUP BY doc_id),
    b AS (
      SELECT doc_id, unnest(
        CASE WHEN len({split}) < 2 THEN []::VARCHAR[]
             ELSE list_transform(range(0, len({split}) - 1),
                                 i -> {split}[i + 1] || ' ' || {split}[i + 2])
        END) AS gram
      FROM documents),
    bc AS (SELECT doc_id, gram, count(*) AS cnt FROM b GROUP BY doc_id, gram),
    bt AS (SELECT doc_id, gram, cnt,
                  row_number() OVER (PARTITION BY doc_id
                                     ORDER BY cnt DESC, gram DESC) AS rn
           FROM bc),
    top AS (SELECT doc_id, CAST(cnt AS BIGINT) AS top_cnt,
                   CAST(cnt * length(gram) AS BIGINT) AS top_chars
            FROM bt WHERE rn = 1),
    misc AS (
      SELECT doc_id,
             len(list_filter(string_split(text, chr(10)),
                 x -> starts_with(ltrim(x), '-') OR starts_with(ltrim(x), '*')))
                 AS bullet_cnt,
             len(list_filter(string_split(text, chr(10)),
                 x -> ends_with(rtrim(x), '...'))) AS ellipsis_cnt,
             greatest(length({NORM_SQL}), 1) AS norm_len
      FROM documents),
    f AS (
      SELECT d.doc_id, la.n_lines,
             CAST(floor(la.n_dup * 10000.0 / greatest(la.n_lines, 1)) AS BIGINT)
                 AS dup_line_bp,
             CAST(floor(la.dup_chars * 10000.0 / greatest(la.tot_chars, 1)) AS BIGINT)
                 AS dup_char_bp,
             coalesce(top.top_cnt, 0) AS top_bigram_cnt,
             CAST(floor(coalesce(top.top_chars, 0) * 10000.0 / misc.norm_len) AS BIGINT)
                 AS top_bigram_char_bp,
             CAST(floor(misc.bullet_cnt * 10000.0 / greatest(la.n_lines, 1)) AS BIGINT)
                 AS bullet_line_bp,
             CAST(floor(misc.ellipsis_cnt * 10000.0 / greatest(la.n_lines, 1)) AS BIGINT)
                 AS ellipsis_line_bp
      FROM documents d
      JOIN la USING (doc_id)
      LEFT JOIN top USING (doc_id)
      JOIN misc ON misc.doc_id = d.doc_id)
    SELECT f.*,
           CAST(CASE WHEN dup_line_bp < 3000 AND dup_char_bp < 2000
                      AND top_bigram_char_bp < 1800 AND bullet_line_bp < 9000
                      AND ellipsis_line_bp < 3000
                     THEN 1 ELSE 0 END AS BIGINT) AS gopher_keep
    FROM f
    """


def ngram_topk_sql(n_top: int = NGRAM_TOP) -> str:
    return f"""
    WITH g AS (
      SELECT unnest(
        CASE WHEN len(string_split({NORM_SQL}, ' ')) < 3
             THEN []::VARCHAR[]
             ELSE list_transform(
                    range(0, len(string_split({NORM_SQL}, ' ')) - 2),
                    i -> string_split({NORM_SQL}, ' ')[i + 1] || ' ' ||
                         string_split({NORM_SQL}, ' ')[i + 2] || ' ' ||
                         string_split({NORM_SQL}, ' ')[i + 3])
        END) AS gram
      FROM documents)
    SELECT gram, count(*) AS n_occurrences
    FROM g GROUP BY gram
    ORDER BY n_occurrences DESC, gram LIMIT {n_top}
    """


def vocab_coverage(
    spark: SparkSession, sf_dir: str, vocab_k: int = VOCAB_K
) -> DataFrame:
    """CCNet/C4-family vocabulary-coverage quality signal: build the
    top-``vocab_k`` corpus vocabulary (by total occurrence count, ties
    broken lexicographically so both engines agree), then score every
    document by how much of it falls OUTSIDE that vocabulary —
    high-OOV documents are gibberish, boilerplate soup, or the wrong
    language.  One row per document with ≥1 word: ``(doc_id, n_words,
    n_oov, oov_bp)``; integer arithmetic end to end except the final
    basis-point floor (the repo's cross-engine contract).

    The published variant scores against a FIXED LM vocabulary; the
    corpus-derived top-K here is the deterministic, no-external-data
    stand-in with the same plan shape.  Log-probability scoring is
    deliberately NOT offered cross-engine: JVM and libm ``log`` may
    disagree in the last ulp, and a hash gate cannot tolerate
    floor-boundary flips.  Instead ``freq_sum`` carries the integer
    unigram-LM stand-in (round 4): the summed corpus occurrence count
    of each in-vocab token — the monotone integer transform of
    unigram probability mass (freq_sum/n_words ∝ mean unigram
    probability over the LM vocabulary), so a CCNet-style
    "perplexity bucket" split downstream is an exact integer sort,
    never a transcendental.

    Plan at 100 TB: vocabulary = explode → map-side-combined count →
    TakeOrderedAndProject (the vocabulary is LM-sized, 10^5-10^6 rows)
    → BROADCAST to the scoring join, so the corpus-side explode never
    shuffles for membership; scoring is one partial+final agg keyed on
    doc_id."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = (
        docs.select("doc_id", F.explode(F.split(_norm(), " ")).alias("w"))
        .filter(F.col("w") != "")
    )
    vocab = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("w"))
        .limit(vocab_k)
        .select("w", "cnt")
    )
    return (
        words.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(
                F.when(F.col("cnt").isNull(), F.lit(1)).otherwise(F.lit(0))
            ).alias("n_oov"),
            F.sum(F.coalesce(F.col("cnt"), F.lit(0))).alias("freq_sum"),
        )
        .select(
            "doc_id",
            F.col("n_words").cast("long").alias("n_words"),
            F.col("n_oov").cast("long").alias("n_oov"),
            F.floor(
                F.col("n_oov").cast("double") / F.col("n_words") * 10000
            ).cast("long").alias("oov_bp"),
            F.col("freq_sum").cast("long").alias("freq_sum"),
        )
        .orderBy("doc_id")
    )


def vocab_coverage_sql() -> str:
    return f"""
    WITH w AS (
      SELECT doc_id, unnest(string_split({NORM_SQL}, ' ')) AS w
      FROM documents),
    ww AS (SELECT doc_id, w FROM w WHERE w <> ''),
    v AS (
      SELECT w, count(*) AS cnt FROM ww GROUP BY w
      ORDER BY cnt DESC, w ASC LIMIT {VOCAB_K})
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_oov,
           CAST(floor(CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)
                           AS DOUBLE)
                      / count(*) * 10000) AS BIGINT) AS oov_bp,
           CAST(sum(coalesce(v.cnt, 0)) AS BIGINT) AS freq_sum
    FROM ww LEFT JOIN v ON ww.w = v.w
    GROUP BY doc_id ORDER BY doc_id
    """
