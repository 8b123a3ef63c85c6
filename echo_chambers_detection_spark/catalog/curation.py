"""Training-data pipeline ops (SURVEY.md M6): dedup, text analysis, curation chain.

Split from the single-file catalog (round 7, VERDICT r6 #7); bodies
are verbatim from that file — see its git history for provenance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from echo_chambers_detection_spark.catalog._core import (
    _spread,
    _t,
    register,
)


def _docs_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents scan, fanned out for per-row-heavy text compute
    (see _core._spread — no-op once the scan has real partitions)."""
    return _spread(_t(spark, sf_dir, "documents"), spark)
from echo_chambers_detection_spark.catalog.vector import (
    _ORACLE_EMB_EXPLODED,
    _emb,
)
from echo_chambers_detection_spark.session import driver_frame

# ===========================================================================
# Training-data pipeline ops (SURVEY.md M6 / BASELINE.json north star):
# text analysis, dedup family, multimodal plumbing over `documents`.
# ===========================================================================

_ORACLE_TOKS_CTE = """
toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                       x -> x != '') AS t
    FROM documents
),
sh AS (
    SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id,
               UNNEST([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                       for i in generate_series(1, len(t) - 2)]) AS s
        FROM toks
    )
)
"""


@register(
    "text_token_stats",
    f"""
WITH {_ORACLE_TOKS_CTE}
SELECT doc_id,
       len(t) AS n_tokens,
       ROUND(CASE WHEN len(t) > 0
             THEN list_sum(list_transform(t, x -> length(x))) * 1.0 / len(t)
             END, 6) AS avg_token_len
FROM toks
""",
    doc="Whitespace/punct tokenizer + token stats (M6 text analysis)",
)
def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.functions.text import tokenize

    t = tokenize("text")
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(t).alias("n_tokens"),
        F.round(
            F.when(
                F.size(t) > 0,
                F.aggregate(
                    F.transform(t, lambda x: F.length(x)),
                    F.lit(0),
                    lambda a, x: a + x,
                ).cast("double")
                / F.size(t),
            ),
            6,
        ).alias("avg_token_len"),
    )


@register(
    "bpe_token_stats",
    r"""
WITH toks AS (
    SELECT doc_id,
           regexp_extract_all(lower(text), ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+') AS t
    FROM documents
)
SELECT doc_id,
       len(t) AS n_bpe_tokens,
       len(list_distinct(t)) AS n_unique_tokens,
       ROUND(CASE WHEN len(t) > 0
                  THEN list_sum(list_transform(t, x -> length(x))) * 1.0 / len(t)
                  ELSE NULL END, 6) AS avg_token_len
FROM toks
""",
    doc="BPE-ish token counting (M6): GPT-2-style pre-token split "
    "(leading-space-attached letter/digit/punct runs, the regex subset "
    "Java and RE2 share) — the token count a training-data pipeline "
    "budgets against, next to the whitespace word count of "
    "text_token_stats. Identical pattern in the DuckDB oracle.",
)
def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.functions.text import bpe_tokens

    t = bpe_tokens("text")
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(t).alias("n_bpe_tokens"),
        F.size(F.array_distinct(t)).alias("n_unique_tokens"),
        F.round(
            F.when(
                F.size(t) > 0,
                F.aggregate(
                    F.transform(t, lambda x: F.length(x)),
                    F.lit(0),
                    lambda a, x: a + x,
                ).cast("double")
                / F.size(t),
            ),
            6,
        ).alias("avg_token_len"),
    )


@register(
    "text_scrub_stats",
    r"""
SELECT doc_id,
       len(regexp_extract_all(lower(text), 'https?://[^ ]+')) AS n_urls,
       len(regexp_extract_all(lower(text),
           '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_emails,
       length(regexp_replace(
           regexp_replace(lower(text), 'https?://[^ ]+', ' ', 'g'),
           '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', ' ', 'g')) AS clean_len
FROM documents
""",
    doc="URL/e-mail scrub pass (M6 curation): per-doc counts of scrubbed "
    "spans + post-scrub length, the standard PII/noise removal step "
    "before dedup/quality filtering. Spark regexp_replace is global by "
    "default; the oracle passes the 'g' flag — same patterns, same "
    "result. Mechanics on docs that actually contain URLs/e-mails are "
    "unit-tested (tests/test_text_functions.py); the synthetic corpus "
    "is clean, which the hash check also verifies.",
)
def q_text_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.functions.text import (
        EMAIL_PATTERN,
        URL_PATTERN,
        scrub_urls_and_emails,
    )

    low = F.lower(F.col("text"))
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.regexp_extract_all(low, F.lit(URL_PATTERN), 0)).alias(
            "n_urls"
        ),
        F.size(F.regexp_extract_all(low, F.lit(EMAIL_PATTERN), 0)).alias(
            "n_emails"
        ),
        F.length(scrub_urls_and_emails("text")).alias("clean_len"),
    )


@register(
    "c4_quality_flags",
    r"""
WITH lines AS (
    SELECT doc_id,
           lower(text) AS lt,
           list_filter(string_split(text, chr(10)), x -> trim(x) != '') AS ls
    FROM documents
)
SELECT doc_id,
       len(ls) AS n_lines,
       ROUND(CASE WHEN len(ls) > 0
             THEN len(list_filter(ls, x -> right(rtrim(x), 1) IN ('.', '!', '?')))
                  * 1.0 / len(ls)
             ELSE NULL END, 6) AS frac_terminal_punct_lines,
       ROUND(CASE WHEN len(ls) > 0
             THEN 1.0 - len(list_distinct(ls)) * 1.0 / len(ls)
             ELSE NULL END, 6) AS frac_duplicate_lines,
       CAST(contains(lt, 'lorem ipsum') AS BOOLEAN) AS has_lorem_ipsum,
       CAST(contains(lt, '{') AS BOOLEAN) AS has_curly_brace
FROM lines
""",
    doc="C4-style line-level quality flags (M6 curation; Raffel et al. "
    "2020 §2.2 rules): terminal-punctuation line fraction, duplicate-"
    "line fraction, lorem-ipsum and curly-brace markers — the classic "
    "web-corpus drop rules, per doc so a filter pass is one predicate. "
    "Single-line synthetic docs hash-verify the degenerate case; the "
    "multi-line mechanics are oracle-checked on a crafted corpus in "
    "tests/test_text_functions.py.",
)
def q_c4_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    lt = F.lower(F.col("text"))
    ls = F.filter(
        F.split(F.col("text"), "\n"), lambda x: F.trim(x) != ""
    )
    base = _t(spark, sf_dir, "documents").select(
        "doc_id", lt.alias("lt"), ls.alias("ls")
    )
    n = F.size("ls")
    term = F.size(
        F.filter(
            F.col("ls"),
            lambda x: F.right(F.rtrim(x), F.lit(1)).isin(".", "!", "?"),
        )
    )
    return base.select(
        "doc_id",
        n.alias("n_lines"),
        F.round(
            F.when(n > 0, term.cast("double") / n), 6
        ).alias("frac_terminal_punct_lines"),
        F.round(
            F.when(
                n > 0,
                1.0 - F.size(F.array_distinct("ls")).cast("double") / n,
            ),
            6,
        ).alias("frac_duplicate_lines"),
        F.col("lt").contains("lorem ipsum").alias("has_lorem_ipsum"),
        F.col("lt").contains("{").alias("has_curly_brace"),
    )


@register(
    "winnowing_fingerprints",
    r"""
WITH g AS (
    SELECT doc_id, lower(text) AS t FROM documents
),
hs AS (
    SELECT doc_id,
           CASE WHEN length(t) >= 8
                THEN [md5(substr(t, i, 8))
                      for i in generate_series(1, length(t) - 7)]
                ELSE [] END AS h
    FROM g
),
wins AS (
    SELECT doc_id, h,
           CASE WHEN len(h) >= 4
                THEN [list_min(h[j : j + 3])
                      for j in generate_series(1, len(h) - 3)]
                ELSE [] END AS w
    FROM hs
)
SELECT doc_id,
       len(h) AS n_grams,
       len(list_distinct(w)) AS n_fingerprints,
       list_min(w) AS min_fingerprint
FROM wins
""",
    doc="Winnowing document fingerprints (Schleimer/Wilkerson/Aiken "
    "2003 — the rolling-hash fingerprinting of the M6 inventory): "
    "hash every 8-char k-gram, keep the minimum of each 4-hash "
    "window; the distinct window-minima are the fingerprint set that "
    "guarantees detection of any shared run >= k+w-1 chars. All "
    "native array expressions over the SAME md5 both engines share; "
    "short docs yield empty sets via the explicit guards (the "
    "sequence(1,0)-descends rule from ADVICE r3 applies here too).",
)
def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = F.lower(F.col("text"))
    h = F.when(
        F.length(t) >= 8,
        F.transform(
            F.sequence(F.lit(1), F.length(t) - 7),
            lambda i: F.md5(F.substring(t, i, F.lit(8))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = _docs_spread(spark, sf_dir).select("doc_id", h.alias("h"))
    w = F.when(
        F.size("h") >= 4,
        F.transform(
            F.sequence(F.lit(1), F.size("h") - 3),
            lambda j: F.array_min(F.slice("h", j, 4)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return base.select(
        "doc_id",
        F.size("h").alias("n_grams"),
        F.size(F.array_distinct(w)).alias("n_fingerprints"),
        F.array_min(w).alias("min_fingerprint"),
    )


@register(
    "doc_repetition_scores",
    f"""
WITH {_ORACLE_TOKS_CTE},
uni AS (
    SELECT doc_id, x AS w, COUNT(*) AS c
    FROM (SELECT doc_id, UNNEST(t) AS x FROM toks)
    GROUP BY 1, 2
),
us AS (
    SELECT doc_id, MAX(c) AS mx, SUM(c) AS n, COUNT(*) AS dn
    FROM uni GROUP BY 1
),
big AS (
    SELECT doc_id, b, COUNT(*) AS c
    FROM (
        SELECT doc_id,
               UNNEST([t[i] || ' ' || t[i+1]
                       for i in generate_series(1, len(t) - 1)]) AS b
        FROM toks
    )
    GROUP BY 1, 2
),
bs AS (SELECT doc_id, MAX(c) AS mxb, SUM(c) AS nb FROM big GROUP BY 1)
SELECT tk.doc_id,
       len(tk.t) AS n_tokens,
       ROUND(us.dn * 1.0 / us.n, 6) AS distinct_token_frac,
       ROUND(us.mx * 1.0 / us.n, 6) AS top_unigram_frac,
       ROUND(bs.mxb * 1.0 / bs.nb, 6) AS top_bigram_frac
FROM toks tk
LEFT JOIN us ON us.doc_id = tk.doc_id
LEFT JOIN bs ON bs.doc_id = tk.doc_id
""",
    doc="Repetition-based quality filters for training-data curation "
    "(the Gopher/MassiveText rules, word-token formulation): distinct-"
    "token fraction, most-common-unigram fraction, most-common-bigram "
    "fraction. All native Catalyst explode+agg — the standard pre-"
    "training filter pass runs as one distributed query per corpus.",
)
def q_doc_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.functions.text import (
        tokenize,
        word_ngrams,
    )

    t = tokenize("text")
    base = _docs_spread(spark, sf_dir).select(
        "doc_id", t.alias("t")
    )
    uni = (
        base.select("doc_id", F.explode("t").alias("w"))
        .groupBy("doc_id", "w")
        .count()
        .groupBy("doc_id")
        .agg(
            F.max("count").alias("mx"),
            F.sum("count").alias("n"),
            F.count("*").alias("dn"),
        )
    )
    bi = (
        base.select("doc_id", F.explode(word_ngrams(F.col("t"), 2)).alias("b"))
        .groupBy("doc_id", "b")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("mxb"), F.sum("count").alias("nb"))
    )
    return (
        base.join(uni, "doc_id", "left")
        .join(bi, "doc_id", "left")
        .select(
            "doc_id",
            F.size("t").alias("n_tokens"),
            F.round(F.col("dn").cast("double") / F.col("n"), 6).alias(
                "distinct_token_frac"
            ),
            F.round(F.col("mx").cast("double") / F.col("n"), 6).alias(
                "top_unigram_frac"
            ),
            F.round(F.col("mxb").cast("double") / F.col("nb"), 6).alias(
                "top_bigram_frac"
            ),
        )
    )


# Shared oracle fragments for the quality/split conventions (round-5
# review: one definition each, so a threshold/salt/term change cannot
# silently diverge the queries that compose them).
_ORACLE_QUALITY_TERMS = """LEAST(len(tk.t) / 20.0, 1.0) AS length_term,
           CASE WHEN len(tk.t) > 0
                THEN len(list_filter(tk.t, x -> list_contains(
                     ['the','a','and','of','to','in','is','on','for','with'], x)))
                     * 1.0 / len(tk.t)
                ELSE 0.0 END AS sw_ratio,
           CASE WHEN length(d.text) > 0
                THEN (length(d.text) - length(regexp_replace(d.text, '[^\\w\\s]', '', 'g')))
                     * 1.0 / length(d.text)
                ELSE 0.0 END AS punct"""

_ORACLE_QUALITY_EXPR = (
    "ROUND(length_term * (0.5 + 0.5 * LEAST(sw_ratio * 5, 1.0))"
    " * (1 - punct), 6)"
)


def _oracle_split_pct(hx: str) -> str:
    """DuckDB twin of `_split_pct`: value of the first 3 hex digits of
    the md5 column `hx`, mod 100."""
    d = "strpos('0123456789abcdef', substr({hx}, {i}, 1)) - 1"
    return (
        "((" + d.format(hx=hx, i=1) + ") * 256\n"
        "            + (" + d.format(hx=hx, i=2) + ") * 16\n"
        "            + (" + d.format(hx=hx, i=3) + ")) % 100"
    )


@register(
    "text_quality_scores",
    f"""
WITH {_ORACLE_TOKS_CTE},
feat AS (
    SELECT d.doc_id, tk.t,
           {_ORACLE_QUALITY_TERMS}
    FROM documents d JOIN toks tk ON tk.doc_id = d.doc_id
)
SELECT doc_id,
       {_ORACLE_QUALITY_EXPR}
       AS quality
FROM feat
""",
    doc="Heuristic quality score: length saturation x stopword "
    "plausibility x punctuation sanity (M6 text analysis)",
)
def q_text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.functions.text import quality_score

    return _t(spark, sf_dir, "documents").select(
        "doc_id", F.round(quality_score("text"), 6).alias("quality")
    )


def _split_pct(id_col: str = "doc_id"):
    """The salted-hash split percentile (first 3 hex digits of
    md5('split:'||id) mod 100) — ONE definition shared by
    train_val_test_split and corpus_manifest (round-5 review: a salt or
    threshold change must not diverge the two). The oracle twin is
    _ORACLE_SPLIT_PCT."""
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("split:"), F.col(id_col).cast("string")
                    )
                ),
                1,
                3,
            ),
            16,
            10,
        ).cast("int")
        % 100
    )



@register(
    "train_val_test_split",
    f"""
WITH h AS (
    SELECT doc_id, lang,
           md5('split:' || CAST(doc_id AS VARCHAR)) AS hx
    FROM documents
),
pct AS (
    SELECT doc_id, lang,
           {_oracle_split_pct("hx")}
               AS pct
    FROM h
)
SELECT doc_id, lang, pct,
       CASE WHEN pct < 80 THEN 'train'
            WHEN pct < 90 THEN 'val'
            ELSE 'test' END AS split
FROM pct ORDER BY doc_id
""",
    doc="Deterministic salted-hash train/val/test split (80/10/10) — "
    "the assignment every training pipeline needs to be REPRODUCIBLE "
    "and join-free at 100 TB: split is a pure function of the row key "
    "(first 3 hex digits of md5('split:'||id) mod 100), so any two "
    "jobs agree without coordination and adding data never reshuffles "
    "old assignments. Hash buckets are uniform per-row, so per-lang "
    "strata inherit the 80/10/10 proportions (the ±1% mod-4096 bias "
    "is deterministic and identical in both engines).",
)
def q_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    pct = _split_pct()
    return (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "lang",
            pct.alias("pct"),
            F.when(pct < 80, F.lit("train"))
            .when(pct < 90, F.lit("val"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
        .orderBy("doc_id")
    )


@register(
    "token_pack_chunks",
    f"""
WITH {_ORACLE_TOKS_CTE},
nt AS (
    -- ((x % 8) + 8) % 8 mirrors Spark's pmod for negative keys; plain
    -- SQL % is signed and would shard negative ids differently
    SELECT doc_id, len(t) AS n_tokens,
           ((doc_id % 8) + 8) % 8 AS shard
    FROM toks WHERE len(t) > 0
),
c AS (
    SELECT doc_id, shard, n_tokens,
           SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS cum
    FROM nt
)
SELECT doc_id, shard, n_tokens,
       CAST(FLOOR((cum - n_tokens) / 2048.0) AS BIGINT) AS first_chunk,
       CAST(FLOOR((cum - 1) / 2048.0) AS BIGINT) AS last_chunk,
       CAST(FLOOR((cum - 1) / 2048.0)
            - FLOOR((cum - n_tokens) / 2048.0) + 1 AS BIGINT) AS n_chunks
FROM c ORDER BY doc_id
""",
    doc="LLM-pretraining sequence packing (concat-and-chunk, the "
    "GPT-2/Pile convention: documents concatenate in key order and "
    "split at a fixed 2048-token budget, docs spanning boundaries): "
    "per doc its first/last chunk index and span count, from ONE "
    "window cumsum. Sharded (doc_id mod 8) so the running sum is "
    "per-shard — the 100 TB shape, where packing runs inside each "
    "data shard in parallel and a global sort never exists.",
)
def q_token_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from echo_chambers_detection_spark.functions.text import tokenize

    budget = 2048
    nt = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.size(tokenize("text")).cast("long").alias("n_tokens"),
            F.pmod("doc_id", F.lit(8)).alias("shard"),
        )
        .where(F.col("n_tokens") > 0)
    )
    w = Window.partitionBy("shard").orderBy("doc_id")
    cum = F.sum("n_tokens").over(w)
    first = F.floor((cum - F.col("n_tokens")) / budget)
    last = F.floor((cum - 1) / budget)
    return nt.select(
        "doc_id",
        "shard",
        "n_tokens",
        first.alias("first_chunk"),
        last.alias("last_chunk"),
        (last - first + 1).alias("n_chunks"),
    ).orderBy("doc_id")


@register(
    "quality_head_per_lang",
    f"""
WITH {_ORACLE_TOKS_CTE},
feat AS (
    SELECT d.doc_id, d.lang,
           {_ORACLE_QUALITY_TERMS}
    FROM documents d JOIN toks tk ON tk.doc_id = d.doc_id
),
scored AS (
    SELECT doc_id, lang,
           {_ORACLE_QUALITY_EXPR}
               AS quality
    FROM feat
),
ranked AS (
    SELECT doc_id, lang, quality,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id)
               AS rank
    FROM scored
)
SELECT lang, doc_id, quality, rank FROM ranked
WHERE rank <= 25 ORDER BY lang, rank
""",
    doc="Quality-stratified curation head: top-25 documents per "
    "language bucket by the heuristic quality score (deterministic "
    "(quality desc, doc_id) tie order on the ROUNDED score so both "
    "engines rank identically) — the 'keep the best N per stratum' "
    "selection step of a curation pipeline, one partitioned window, "
    "no global sort.",
)
def q_quality_head_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from echo_chambers_detection_spark.functions.text import quality_score

    scored = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.round(quality_score("text"), 6).alias("quality"),
    )
    w = Window.partitionBy("lang").orderBy(F.desc("quality"), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 25)
        .select("lang", "doc_id", "quality", "rank")
        .orderBy("lang", "rank")
    )


@register(
    "benchmark_contamination",
    f"""
WITH {_ORACLE_TOKS_CTE},
sh5 AS (
    SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id,
               UNNEST([t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
                       || t[i+3] || ' ' || t[i+4]
                       for i in generate_series(1, len(t) - 4)]) AS s
        FROM toks
    )
),
bench AS (SELECT DISTINCT s FROM sh5 WHERE doc_id % 97 = 0),
nonb AS (SELECT doc_id FROM documents WHERE doc_id % 97 != 0),
shared AS (
    SELECT f.doc_id, COUNT(DISTINCT f.s) AS n
    FROM sh5 f JOIN bench b ON b.s = f.s
    WHERE f.doc_id % 97 != 0
    GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(s.n, 0) AS n_shared,
       COALESCE(s.n, 0) > 0 AS contaminated
FROM nonb d LEFT JOIN shared s USING (doc_id)
ORDER BY d.doc_id
""",
    doc="Benchmark-contamination scan (the GPT-3-style n-gram overlap "
    "decontamination step, word 5-grams here at the synthetic doc "
    "length): the held-out set is doc_id % 97 == 0; every training "
    "candidate reports how many distinct 5-grams it shares with ANY "
    "benchmark document. The benchmark shingle set is the SMALL side "
    "by construction (a benchmark suite, not the corpus), so the scan "
    "is a broadcast semi-join against the 100 TB training side — no "
    "shuffle of the corpus shingles.",
)
def q_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.functions.text import (
        tokenize,
        word_ngrams,
    )

    docs = _t(spark, sf_dir, "documents")
    sh5 = docs.select(
        "doc_id",
        F.explode(word_ngrams(tokenize("text"), 5)).alias("s"),
    ).distinct()
    is_bench = F.pmod("doc_id", F.lit(97)) == 0
    bench_sh = sh5.where(is_bench).select("s").distinct()
    shared = (
        sh5.where(~is_bench)
        .join(F.broadcast(bench_sh), "s")
        .groupBy("doc_id")
        .agg(F.count_distinct("s").alias("n_shared"))
    )
    return (
        docs.where(~is_bench)
        .select("doc_id")
        .join(shared, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
            (F.coalesce("n_shared", F.lit(0)) > 0).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


@register(
    "corpus_manifest",
    f"""
WITH {_ORACLE_TOKS_CTE},
survivors AS (
    SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
feat AS (
    SELECT d.doc_id, d.lang, len(tk.t) AS n_tokens,
           {_ORACLE_QUALITY_TERMS}
    FROM documents d
    JOIN survivors s USING (doc_id)
    JOIN toks tk ON tk.doc_id = d.doc_id
),
kept AS (
    SELECT doc_id, lang, n_tokens
    FROM feat
    WHERE {_ORACLE_QUALITY_EXPR}
          >= 0.5
),
assigned AS (
    SELECT lang, n_tokens,
           CASE WHEN pct < 80 THEN 'train'
                WHEN pct < 90 THEN 'val' ELSE 'test' END AS split
    FROM (
        SELECT lang, n_tokens,
               {_oracle_split_pct("hx")} AS pct
        FROM (SELECT lang, n_tokens,
                     md5('split:' || CAST(doc_id AS VARCHAR)) AS hx
              FROM kept)
    )
)
SELECT split, lang, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
FROM assigned GROUP BY 1, 2 ORDER BY 1, 2
""",
    doc="The corpus-BUILD chain end-to-end, as one query: exact dedup "
    "(min-doc_id survivor per md5(text) group) -> quality gate "
    "(heuristic score >= 0.5, the same expression text_quality_scores "
    "hashes) -> salted-hash split assignment -> the per-(split, lang) "
    "manifest a training run consumes (doc + token budgets). Every "
    "stage reuses an already-oracle-checked operator; this chain "
    "hash-checks their COMPOSITION — the curation analogue of "
    "analysis_run_metrics. Each stage is a shuffle on its natural key "
    "(md5 group, then one final (split, lang) agg); nothing global.",
)
def q_corpus_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.functions.text import (
        quality_score,
        tokenize,
    )

    from echo_chambers_detection_spark.operators.dedup import (
        exact_dedup_groups,
    )

    docs = _t(spark, sf_dir, "documents")
    # the SAME survivor policy the oracle-green exact_dedup_groups
    # query encodes (round-5 review: no inline re-implementation)
    survivors = exact_dedup_groups(docs).select(
        F.col("survivor_id").alias("doc_id")
    )
    kept = (
        docs.join(survivors, "doc_id", "leftsemi")
        .where(F.round(quality_score("text"), 6) >= 0.5)
        .select(
            "doc_id",
            "lang",
            F.size(tokenize("text")).cast("long").alias("n_tokens"),
        )
    )
    pct = _split_pct()
    assigned = kept.select(
        "lang",
        "n_tokens",
        F.when(pct < 80, F.lit("train"))
        .when(pct < 90, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    return (
        assigned.groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .orderBy("split", "lang")
    )


@register(
    "source_mixture_rates",
    f"""
WITH {_ORACLE_TOKS_CTE},
per_doc AS (
    SELECT d.source, len(tk.t) AS n_tokens
    FROM documents d JOIN toks tk ON tk.doc_id = d.doc_id
),
per_source AS (
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM per_doc GROUP BY 1
),
shares AS (
    SELECT source, n_docs, n_tokens,
           n_tokens * 1.0 / SUM(n_tokens) OVER () AS actual_share,
           1.0 / COUNT(*) OVER () AS target_share
    FROM per_source
),
rates AS (
    SELECT *, target_share / actual_share AS raw_rate FROM shares
)
SELECT source, n_docs, n_tokens,
       ROUND(actual_share, 6) AS actual_share,
       ROUND(target_share, 6) AS target_share,
       ROUND(raw_rate / MAX(raw_rate) OVER (), 6) AS sample_rate
FROM rates ORDER BY source
""",
    doc="Data-mixture planning over the `source` column: per-source "
    "token shares vs a uniform target, normalized to sample-down-only "
    "rates (the largest deficit keeps rate 1.0, everything else "
    "down-samples proportionally — how pretraining mixtures rebalance "
    "without upsampling). One aggregation + two unpartitioned window "
    "functions over the per-source table (rows = |sources|, tiny by "
    "construction at any corpus scale).",
)
def q_source_mixture_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from echo_chambers_detection_spark.functions.text import tokenize

    per_source = (
        _t(spark, sf_dir, "documents")
        .select(
            "source", F.size(tokenize("text")).cast("long").alias("n_tokens")
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )
    w = Window.partitionBy()
    actual = F.col("n_tokens") / F.sum("n_tokens").over(w)
    target = F.lit(1.0) / F.count("*").over(w)
    raw = target / actual
    return per_source.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(actual, 6).alias("actual_share"),
        F.round(target, 6).alias("target_share"),
        F.round(raw / F.max(raw).over(w), 6).alias("sample_rate"),
    ).orderBy("source")


@register(
    "event_user_cardinalities",
    None,
    doc="Cardinality SKETCHES next to truth: per event_type the exact "
    "distinct-user count, the HyperLogLog++ estimate "
    "(approx_count_distinct, rsd=0.02 — the one-pass mergeable sketch "
    "a 100 TB scan uses when exact distinct means a full shuffle), "
    "and the signed relative error. Deterministic (HLL++ is hash-"
    "based and order-insensitive) but engine-specific, so rows-only; "
    "tests/test_entry.py pins the error bound |err| <= 3*rsd per "
    "group. At scale the exact column is the one you DROP — it is "
    "here so the sketch's honesty is visible in the result itself.",
)
def q_event_user_cardinalities(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("n_exact"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("n_approx"),
        )
        .select(
            "event_type",
            "n_exact",
            "n_approx",
            F.round(
                (F.col("n_approx") - F.col("n_exact"))
                / F.col("n_exact"),
                6,
            ).alias("rel_error"),
        )
        .orderBy("event_type")
    )


def _lang_tables():
    from echo_chambers_detection_spark.functions.text import (
        LANG_ORDER,
        STOPWORDS,
        TRIGRAM_ORDER,
        TRIGRAM_PROFILES,
    )

    return LANG_ORDER, STOPWORDS, TRIGRAM_ORDER, TRIGRAM_PROFILES


def _lang_case_sql(order) -> str:
    """The SAME deterministic chain functions/text._lang_case_chain
    builds: language L wins iff its score >= every later language's."""
    parts = []
    for idx, lang in enumerate(order[:-1]):
        conds = " AND ".join(f"h_{lang} >= h_{o}" for o in order[idx + 1 :])
        parts.append(f"WHEN {conds} THEN '{lang}'")
    return "CASE " + " ".join(parts) + f" ELSE '{order[-1]}' END"


def _sw_hits_sql() -> str:
    order, stopwords, _, _ = _lang_tables()
    cols = []
    for lang in order:
        lst = "[" + ",".join(f"'{w}'" for w in stopwords[lang]) + "]"
        cols.append(
            f"len(list_filter(tk.t, x -> list_contains({lst}, x))) AS h_{lang}"
        )
    return ",\n           ".join(cols)


def _trigram_hits_sql() -> str:
    _, _, order, profiles = _lang_tables()
    cols = []
    for lang in order:
        terms = " + ".join(
            f"CAST((length(tt) - length(replace(tt, '{s}', ''))) / {len(s)} AS INT)"
            for s in profiles[lang]
        )
        cols.append(f"({terms}) AS h_{lang}")
    return ",\n           ".join(cols)


@register(
    "language_id_pred",
    f"""
WITH {_ORACLE_TOKS_CTE},
hits AS (
    SELECT d.doc_id, d.lang AS lang_actual,
           {_sw_hits_sql()}
    FROM documents d JOIN toks tk ON tk.doc_id = d.doc_id
)
SELECT doc_id, lang_actual,
       {_lang_case_sql(_lang_tables()[0])} AS lang_pred
FROM hits
""",
    doc="Stopword-hit language ID heuristic over 10 languages with the "
    "deterministic tie-break chain (M6 text analysis); hits SQL and "
    "CASE chain are GENERATED from the same language tables the Spark "
    "expression uses, so the two engines cannot drift",
)
def q_language_id_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.functions.text import (
        LANG_ORDER,
        STOPWORDS,
        _lang_case_chain,
        tokenize,
    )

    # two-step select, mirroring the oracle's hits CTE: each language's
    # hit count is computed ONCE as a named column, then the CASE chain
    # references the columns — inlining the chain directly re-evaluates
    # every score up to |langs| times per row (CollapseProject keeps
    # multi-use non-cheap aliases in their own projection)
    t = tokenize("text")

    def _in(sw_arr):
        return lambda x: F.array_contains(sw_arr, x)

    hit_cols = []
    for lang in LANG_ORDER:
        sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        hit_cols.append(F.size(F.filter(t, _in(sw))).alias(f"_h_{lang}"))
    base = _docs_spread(spark, sf_dir).select(
        "doc_id", F.col("lang").alias("lang_actual"), *hit_cols
    )
    pred = _lang_case_chain(
        {lang: F.col(f"_h_{lang}") for lang in LANG_ORDER}, LANG_ORDER
    )
    return base.select("doc_id", "lang_actual", pred.alias("lang_pred"))


@register(
    "language_id_trigram_pred",
    f"""
WITH base AS (
    SELECT doc_id, lang AS lang_actual,
           ' ' || lower(text) || ' ' AS tt
    FROM documents
),
hits AS (
    SELECT doc_id, lang_actual,
           {_trigram_hits_sql()}
    FROM base
)
SELECT doc_id, lang_actual,
       {_lang_case_sql(_lang_tables()[2])} AS lang_pred
FROM hits
""",
    doc="Character-profile language ID over 11 languages incl. zh "
    "(VERDICT r3 #8): per-language score = occurrence counts of "
    "profile substrings in the raw lowercased text — classifies "
    "scripts the word tokenizer cannot segment; pure codegen string "
    "ops, generated identically into the DuckDB oracle",
)
def q_language_id_trigram_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.functions.text import (
        TRIGRAM_ORDER,
        TRIGRAM_PROFILES,
        _lang_case_chain,
    )

    # same two-step shape as q_language_id_pred: 66 substring counters
    # once each, then the chain over the named columns
    t = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    hit_cols = []
    for lang in TRIGRAM_ORDER:
        score = F.lit(0)
        for sub in TRIGRAM_PROFILES[lang]:
            occ = (
                F.length(t) - F.length(F.replace(t, F.lit(sub), F.lit("")))
            ) / F.lit(len(sub))
            score = score + occ.cast("int")
        hit_cols.append(score.alias(f"_h_{lang}"))
    base = _docs_spread(spark, sf_dir).select(
        "doc_id", F.col("lang").alias("lang_actual"), *hit_cols
    )
    pred = _lang_case_chain(
        {lang: F.col(f"_h_{lang}") for lang in TRIGRAM_ORDER}, TRIGRAM_ORDER
    )
    return base.select("doc_id", "lang_actual", pred.alias("lang_pred"))


@register(
    "doc_fingerprints",
    """
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                       x -> x != '') AS t
    FROM documents
)
SELECT doc_id,
       list_min(list_transform(
           [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
            for i in generate_series(1, len(t) - 2)],
           s -> md5(s))) AS fingerprint
FROM toks
""",
    doc="Single-permutation minhash document fingerprint (M6 "
    "fingerprinting; md5-string min so the oracle is byte-identical)",
)
def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.functions.text import minhash_fingerprint

    return _docs_spread(spark, sf_dir).select(
        "doc_id", minhash_fingerprint("text").alias("fingerprint")
    )


@register(
    "rfc4122_point_ids",
    None,
    doc="EXACT uuid5(NAMESPACE_URL, id) point ids — the reference's "
    "make_id for every vector-store point "
    "(project/qdrant/consumer_post.py:56-60; SURVEY.md F2, VERDICT r4 "
    "#8: the md5 substitution is closed). Pure JVM expressions "
    "(sha1 + nibble twiddles + dashing), no UDF. DuckDB has no sha1, "
    "so this is a rows-only driver check; bit-parity vs CPython's "
    "uuid.uuid5 is pinned in tests/test_cleaning.py and the identical "
    "layout transform is hash-checked by rfc4122_layout_ids.",
)
def q_rfc4122_point_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.functions.cleaning import uuid5_url

    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", uuid5_url("doc_id").alias("point_id"))
        .orderBy("doc_id")
    )


@register(
    "rfc4122_layout_ids",
    """
SELECT doc_id,
       substr(h, 1, 8) || '-' || substr(h, 9, 4) || '-' ||
       '3' || substr(h, 14, 3) || '-' ||
       substr('89ab',
              ((strpos('0123456789abcdef', substr(h, 17, 1)) - 1) % 4) + 1,
              1) || substr(h, 18, 3) || '-' ||
       substr(h, 21, 12) AS point_id
FROM (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents)
ORDER BY doc_id
""",
    doc="The RFC-4122 layout transform itself under a hash-green "
    "oracle: version/variant nibble overwrite + 8-4-4-4-12 dashing "
    "over md5(doc_id) — DuckDB rebuilds it character-for-character. "
    "The namespace-prefixed digests (uuid5_url/uuid3_url) use the "
    "SAME _rfc4122_from_hex tail; only the digest input differs "
    "(DuckDB md5 is VARCHAR-only and the namespace bytes are not "
    "valid UTF-8, hence the name-only digest here).",
)
def q_rfc4122_layout_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.functions.cleaning import (
        _rfc4122_from_hex,
    )

    return (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            _rfc4122_from_hex(
                F.md5(F.col("doc_id").cast("string")), 3
            ).alias("point_id"),
        )
        .orderBy("doc_id")
    )


@register(
    "exact_dedup_groups",
    """
SELECT md5(text) AS text_md5,
       MIN(doc_id) AS survivor_id,
       COUNT(*) AS group_size
FROM documents
GROUP BY 1
""",
    doc="Exact dedup by content hash, deterministic min-id survivor "
    "(M6 dedup: the O(n) baseline)",
)
def q_exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.dedup import exact_dedup_groups

    return exact_dedup_groups(_t(spark, sf_dir, "documents"))


@register(
    "minhash_lsh_candidates",
    f"""
WITH {_ORACLE_TOKS_CTE},
perms AS (SELECT UNNEST(generate_series(0, 15)) AS perm),
sig AS (
    SELECT doc_id, perm, MIN(md5(perm || ':' || s)) AS minhash
    FROM sh, perms GROUP BY 1, 2
),
bands AS (
    SELECT doc_id, perm // 4 AS band,
           md5(string_agg(minhash, '|' ORDER BY perm)) AS band_key
    FROM sig GROUP BY doc_id, perm // 4
)
SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
FROM bands a
JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
            AND a.doc_id < b.doc_id
""",
    doc="MinHash(16)+LSH(4 bands x 4 rows) near-dup candidates — the "
    "bucket-join path that replaces all-pairs at 100 TB (M6 dedup)",
)
def q_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.dedup import (
        doc_shingles,
        lsh_band_keys,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    shingles = doc_shingles(_docs_spread(spark, sf_dir))
    sigs = minhash_signatures(shingles, num_perm=16)
    return lsh_candidate_pairs(lsh_band_keys(sigs, rows_per_band=4))


@register(
    "ngram_jaccard_pairs",
    f"""
WITH {_ORACLE_TOKS_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
shared AS (
    SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT d1, d2,
       ROUND(c * 1.0 / (s1.sz + s2.sz - c), 6) AS jaccard
FROM shared
JOIN sizes s1 ON s1.doc_id = d1
JOIN sizes s2 ON s2.doc_id = d2
WHERE c * 1.0 / (s1.sz + s2.sz - c) >= 0.5
""",
    doc="Exact 3-gram Jaccard >= 0.5 via shared-shingle join — ground "
    "truth for the LSH operating point (M6 dedup; finds the fixture's "
    "planted near-duplicates)",
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.dedup import (
        doc_shingles,
        jaccard_pairs,
    )

    shingles = doc_shingles(_docs_spread(spark, sf_dir))
    return jaccard_pairs(shingles, threshold=0.5).select(
        "d1", "d2", F.round("jaccard", 6).alias("jaccard")
    )


@register(
    "near_dup_keep_list",
    f"""
WITH RECURSIVE {_ORACLE_TOKS_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
shared AS (
    SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
pairs AS (
    SELECT d1, d2 FROM shared
    JOIN sizes s1 ON s1.doc_id = d1
    JOIN sizes s2 ON s2.doc_id = d2
    WHERE c * 1.0 / (s1.sz + s2.sz - c) >= 0.5
),
edges AS (
    SELECT d1 AS src, d2 AS dst FROM pairs
    UNION ALL SELECT d2, d1 FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
closure AS (
    -- transitive closure by min-label flood; the duplicate graph is tiny
    -- (only docs with a >=0.5-Jaccard partner), so recursion is cheap
    SELECT node, node AS comp FROM nodes
    UNION
    SELECT e.dst AS node, c.comp
    FROM closure c JOIN edges e ON e.src = c.node
    WHERE c.comp < e.dst
),
comps AS (SELECT node, MIN(comp) AS keeper FROM closure GROUP BY node)
SELECT node AS doc_id, keeper FROM comps WHERE node != keeper
""",
    doc="End-to-end near-dup removal verdict (the M6 pipeline composed): "
    "exact-Jaccard-verified pairs -> connected components -> keep the "
    "min doc per duplicate cluster; output is (dropped doc, its keeper). "
    "Spark side reuses jaccard_pairs + the min-label "
    "connected_components loop; DuckDB cross-checks with a WITH "
    "RECURSIVE transitive closure.",
)
def q_near_dup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.dedup import (
        doc_shingles,
        jaccard_pairs,
    )
    from echo_chambers_detection_spark.operators.graph import (
        connected_components,
    )

    shingles = doc_shingles(_docs_spread(spark, sf_dir))
    raw_pairs = jaccard_pairs(shingles, threshold=0.5)
    pairs = raw_pairs.select(
        F.col("d1").alias("u1"), F.col("d2").alias("u2")
    )
    comps = connected_components(pairs)
    return comps.where(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id"), F.col("component").alias("keeper")
    )


@register(
    "ngram_novelty_scores",
    f"""
WITH {_ORACLE_TOKS_CTE},
first AS (SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY 1),
per AS (
    SELECT sh.doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel
    FROM sh JOIN first f ON f.s = sh.s
    GROUP BY 1
)
SELECT doc_id, n_shingles, n_novel,
       CAST(FLOOR(n_novel * 1000000.0 / n_shingles) AS BIGINT) AS novelty_ppm
FROM per
""",
    doc="Corpus-order n-gram novelty per document: the fraction of a "
    "doc's distinct 3-gram shingles FIRST seen in that doc (min doc_id "
    "over the corpus), the standard memorization-risk / dedup-pressure "
    "signal a pretraining pipeline tracks as data is appended — a "
    "revision whose novelty histogram collapses is re-crawling what the "
    "corpus already holds. Scale shape: the same distinct-shingle "
    "explode the MinHash chain starts with, ONE map-side-combining "
    "groupBy on the shingle key (the dedup-index shuffle), one join "
    "back on that same key, one per-doc agg — no new machinery, no "
    "pairwise anything. Novelty is emitted as floor-ppm (an exact "
    "integer in both engines) because a ratio of small integers can "
    "land exactly on a 6th-decimal .5 boundary where Spark's HALF_UP "
    "and DuckDB's HALF_EVEN disagree (e.g. 1/128).",
)
def q_ngram_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.dedup import doc_shingles

    shingles = doc_shingles(_docs_spread(spark, sf_dir))
    first = shingles.groupBy("shingle").agg(
        F.min("doc_id").alias("first_doc")
    )
    per = (
        shingles.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return per.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        F.floor(F.col("n_novel") * 1000000.0 / F.col("n_shingles"))
        .cast("bigint")
        .alias("novelty_ppm"),
    )


@register(
    "shingle_containment_pairs",
    f"""
WITH {_ORACLE_TOKS_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
shared AS (
    SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
dirs AS (
    SELECT d1 AS contained, d2 AS container,
           CAST(FLOOR(c * 1000000.0 / s1.sz) AS BIGINT) AS containment_ppm
    FROM shared JOIN sizes s1 ON s1.doc_id = d1
    UNION ALL
    SELECT d2, d1, CAST(FLOOR(c * 1000000.0 / s2.sz) AS BIGINT)
    FROM shared JOIN sizes s2 ON s2.doc_id = d2
)
SELECT contained, container, containment_ppm
FROM dirs WHERE containment_ppm >= 500000
""",
    doc="Asymmetric shingle containment |A∩B|/|A| for shingle-sharing "
    "ordered pairs at >= 0.5 — the quote-inclusion / wrapper-page dedup "
    "signal symmetric Jaccard misses by construction (a short doc fully "
    "quoted inside a long one has tiny Jaccard but containment 1.0; the "
    "standard curation companion to the near-dup pass). Same scale "
    "shape as ngram_jaccard_pairs: quadratic only within shingle "
    "groups, one shared-shingle join + two size joins, hot-shingle "
    "frequency cap available (operators/dedup.py::containment_pairs). "
    "Floor-ppm integers so the hash never meets a HALF_UP/HALF_EVEN "
    "boundary.",
)
def q_shingle_containment_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from echo_chambers_detection_spark.operators.dedup import (
        containment_pairs,
        doc_shingles,
    )

    return containment_pairs(
        doc_shingles(_docs_spread(spark, sf_dir)), threshold_ppm=500_000
    )


@register(
    "simhash_signatures",
    f"""
WITH {_ORACLE_TOKS_CTE},
tokex AS (SELECT doc_id, UNNEST(t) AS token FROM toks),
bits AS (
    SELECT doc_id, j,
           CASE WHEN substr(md5(token), j + 1, 1) IN
                ('8','9','a','b','c','d','e','f')
                THEN 1 ELSE -1 END AS vote
    FROM tokex, (SELECT UNNEST(generate_series(0, 15)) AS j)
),
sums AS (SELECT doc_id, j, SUM(vote) AS s FROM bits GROUP BY 1, 2)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN 1 << j ELSE 0 END) AS BIGINT) AS simhash
FROM sums GROUP BY 1
""",
    doc="16-bit SimHash signatures from md5 nibble votes (M6 dedup; "
    "production width 64 via native hash, same plan shape)",
)
def q_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.dedup import simhash16

    return simhash16(_docs_spread(spark, sf_dir))


@register(
    "simhash64_near_pairs",
    None,
    doc="PRODUCTION-width SimHash near-dup chain (VERDICT r3 #5): "
    "64-bit signatures from native xxhash64 token votes — all 64 "
    "bit-sums in ONE aggregation pass — then pigeonhole banding "
    "(max_hamming+1 bands, one equi-join per band) and exact "
    "bit_count verify. xxhash64 has no DuckDB twin, so this is a "
    "rows-only driver check; the machinery itself is pinned by the "
    "md5-vote parity test against the oracle-exact 16-bit path "
    "(tests/test_dedup.py) and a brute-force banding oracle.",
)
def q_simhash64_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.dedup import (
        simhash64,
        simhash_candidate_pairs_banded,
    )

    sigs = simhash64(_docs_spread(spark, sf_dir))
    pairs = simhash_candidate_pairs_banded(sigs, max_hamming=3)
    return pairs.orderBy("d1", "d2")


@register(
    "simhash64_md5_near_pairs",
    f"""
WITH {_ORACLE_TOKS_CTE},
tokex AS (SELECT doc_id, UNNEST(t) AS token FROM toks),
bits AS (
    SELECT doc_id, j,
           CASE WHEN (strpos('0123456789abcdef',
                             substr(md5(token), (j // 4) + 1, 1)) - 1)
                     >> (j % 4) & 1 = 1
                THEN 1 ELSE -1 END AS vote
    FROM tokex, (SELECT UNNEST(generate_series(0, 63)) AS j)
),
sums AS (SELECT doc_id, j, SUM(vote) AS s FROM bits GROUP BY 1, 2),
sig AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN s <= 0 THEN 0
                         WHEN j = 63 THEN -9223372036854775808
                         ELSE (CAST(1 AS BIGINT) << j) END) AS BIGINT)
               AS simhash
    FROM sums GROUP BY 1
)
SELECT a.doc_id AS d1, b.doc_id AS d2,
       bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT)) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT)) <= 3
ORDER BY d1, d2
""",
    doc="The 64-bit near-dup chain made ORACLE-EXACT (VERDICT r4 #4): "
    "identical simhash64 SWAR machinery and pigeonhole banding as "
    "simhash64_near_pairs, but with the md5-derived 64-bit vote hash "
    "(dedup.py::md5_vote64) both engines can compute — DuckDB "
    "rebuilds the full-width signatures per-bit and brute-forces the "
    "hamming<=3 pairs (banding finds EXACTLY those pairs by "
    "pigeonhole + exact verify, so brute force IS the semantic "
    "contract). Production keeps xxhash64 votes (native, one hash vs "
    "16 convs per token); this query pins the width-64 plan itself "
    "to a green hash.",
)
def q_simhash64_md5_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.dedup import (
        md5_vote64,
        simhash64,
        simhash_candidate_pairs_banded,
    )

    sigs = simhash64(_docs_spread(spark, sf_dir), vote_hash=md5_vote64)
    pairs = simhash_candidate_pairs_banded(sigs, max_hamming=3)
    return pairs.orderBy("d1", "d2")


@register(
    "simhash_near_pairs",
    f"""
WITH {_ORACLE_TOKS_CTE},
tokex AS (SELECT doc_id, UNNEST(t) AS token FROM toks),
bits AS (
    SELECT doc_id, j,
           CASE WHEN substr(md5(token), j + 1, 1) IN
                ('8','9','a','b','c','d','e','f')
                THEN 1 ELSE -1 END AS vote
    FROM tokex, (SELECT UNNEST(generate_series(0, 15)) AS j)
),
sums AS (SELECT doc_id, j, SUM(vote) AS s FROM bits GROUP BY 1, 2),
sig AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN 1 << j ELSE 0 END) AS BIGINT) AS simhash
    FROM sums GROUP BY 1
),
halves AS (
    SELECT doc_id, simhash, simhash >> 8 AS hi, simhash % 256 AS lo FROM sig
),
cand AS (
    SELECT a.doc_id d1, b.doc_id d2, a.simhash s1, b.simhash s2
    FROM halves a JOIN halves b ON a.hi = b.hi AND a.doc_id < b.doc_id
    UNION
    SELECT a.doc_id d1, b.doc_id d2, a.simhash s1, b.simhash s2
    FROM halves a JOIN halves b ON a.lo = b.lo AND a.doc_id < b.doc_id
)
SELECT d1, d2, bit_count(CAST(xor(s1, s2) AS BIGINT)) AS hamming
FROM cand
WHERE bit_count(CAST(xor(s1, s2) AS BIGINT)) <= 1
""",
    doc="SimHash near-dup pairs via half-signature banding (pigeonhole: "
    "hamming<=1 implies an exact half match) + exact hamming verify",
)
def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.dedup import (
        simhash16,
        simhash_candidate_pairs,
    )

    sigs = simhash16(_docs_spread(spark, sf_dir))
    return simhash_candidate_pairs(sigs, max_hamming=1)


@register(
    "embedding_near_dup",
    f"""
WITH {_ORACLE_EMB_EXPLODED},
scores AS (
    SELECT a.post_cid AS v1, b.post_cid AS v2,
           ROUND(SUM(a.x * b.x) / (SQRT(SUM(a.x * a.x)) * SQRT(SUM(b.x * b.x))), 6) AS score
    FROM ex a JOIN ex b ON a.i = b.i AND a.post_cid < b.post_cid
    GROUP BY 1, 2
)
SELECT v1, v2, score FROM scores WHERE score >= 0.4
""",
    doc="Embedding-cosine near-dup pairs (semantic dedup variant, M6; "
    "exact, via blocked-GEMM tiles — embedding_lsh_near_dup is the "
    "non-exact scale path)",
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.ann import (
        similarity_self_join_gemm,
    )

    return similarity_self_join_gemm(_emb(spark, sf_dir), threshold=0.4)


@register(
    "multimodal_blob_stats",
    """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS content_md5,
       'text/plain' AS media_type
FROM documents
""",
    doc="Opaque-binary column plumbing: payload bytes + typed metadata "
    "(M6 multimodal; decode stubs live in operators/multimodal.py)",
)
def q_multimodal_blob_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.multimodal import (
        with_blob_metadata,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload"), "text"
    )
    return with_blob_metadata(docs).select(
        "doc_id", "n_bytes", "content_md5", "media_type"
    )




@register(
    "multimodal_audio_stats",
    """
SELECT doc_id,
       1 AS n_channels,
       16000 AS sample_rate,
       CAST(1000 + doc_id % 50 AS BIGINT) AS n_samples,
       round((1000 + doc_id % 50) / 16.0, 6) AS duration_ms,
       round((doc_id % 8) * 4096 / 32768.0, 6) AS rms
FROM documents
WHERE doc_id < 200
""",
    doc="The audio leg of the multimodal family, ORACLE-EXACT end to "
    "end (round 7): deterministic PCM16 WAV payloads are synthesized "
    "per doc_id (constant amplitude (doc_id%8)*4096, length "
    "1000+doc_id%50 at 16 kHz) in one Arrow stage, then decoded by the "
    "vendored stdlib RIFF/WAVE parser (functions/audiocodec.py) in "
    "`decode_audio` — constant-amplitude PCM has closed-form RMS = "
    "a/32768 and duration = n/rate, which DuckDB generates directly. "
    "Exercises the encode->binary column->Arrow batch->decode pipeline "
    "the image leg covers for PNG/BMP.",
)
def q_multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from echo_chambers_detection_spark.operators.multimodal import (
        decode_audio,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id").where(
        F.col("doc_id") < 200
    )

    def synth(batches):
        from echo_chambers_detection_spark.functions.audiocodec import (
            encode_wav_pcm16,
        )

        for pdf in batches:
            payloads = [
                encode_wav_pcm16(
                    [int(d % 8) * 4096] * (1000 + int(d) % 50),
                    sample_rate=16_000,
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].astype("int64"),
                 "payload": payloads}
            )

    blobs = docs.mapInPandas(synth, schema="doc_id long, payload binary")
    out = decode_audio(blobs, decoder="real")
    return out.select(
        "doc_id",
        "n_channels",
        F.col("sample_rate").cast("int").alias("sample_rate"),
        "n_samples",
        # n/16 is exact in binary (power-of-two divisor), so the
        # round is an identity on both engines — n/16000 lands exactly
        # on .5e-6 rounding boundaries where Spark (HALF_UP) and DuckDB
        # (HALF_EVEN) disagree
        F.round(F.col("n_samples") / F.lit(16.0), 6).alias("duration_ms"),
        F.round("rms", 6).alias("rms"),
    )


@register(
    "multimodal_video_stats",
    """
WITH fr AS (
    SELECT doc_id, UNNEST(range(0, 3 + doc_id % 5)) AS f
    FROM documents WHERE doc_id < 200
),
agg AS (
    SELECT doc_id,
           COUNT(*) AS n_sampled,
           AVG(CAST((doc_id * 7 + f * 13) % 256 AS DOUBLE)) AS mean_luma
    FROM fr WHERE f % 2 = 0
    GROUP BY doc_id
)
SELECT doc_id,
       16 AS width,
       8 AS height,
       CAST(25.0 AS DOUBLE) AS fps,
       CAST(3 + doc_id % 5 AS BIGINT) AS n_frames,
       CAST(n_sampled AS BIGINT) AS n_sampled,
       mean_luma
FROM agg
""",
    doc="The video leg of the multimodal family, ORACLE-EXACT end to "
    "end (round 7, completing the image/audio/video triad): per doc_id "
    "a deterministic YUV4MPEG2 stream is synthesized (16x8 C420, "
    "3+doc_id%5 frames, frame f's Y plane constant (doc_id*7+f*13)%256) "
    "in one Arrow stage, then decoded AND frame-sampled (stride 2) by "
    "the vendored stdlib Y4M parser (functions/videocodec.py) in "
    "`decode_video`. Constant planes make sampled mean luma a closed "
    "form DuckDB generates directly — and the 128-byte power-of-two "
    "plane keeps the division bit-exact in both engines. Mirrors what "
    "an ffmpeg-backed sampler would emit for real footage.",
)
def q_multimodal_video_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from echo_chambers_detection_spark.operators.multimodal import (
        decode_video,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id").where(
        F.col("doc_id") < 200
    )

    def synth(batches):
        from echo_chambers_detection_spark.functions.videocodec import (
            encode_y4m,
        )

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                n_frames = 3 + d % 5
                frames = [
                    bytes([(d * 7 + f * 13) % 256]) * (16 * 8)
                    for f in range(n_frames)
                ]
                payloads.append(encode_y4m(frames, 16, 8))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].astype("int64"),
                 "payload": payloads}
            )

    blobs = docs.mapInPandas(synth, schema="doc_id long, payload binary")
    out = decode_video(blobs, decoder="real", frame_stride=2)
    return out.select(
        "doc_id",
        "width",
        "height",
        "fps",
        "n_frames",
        "n_sampled",
        "mean_luma",
    )


@register(
    "semantic_dedup_md5_keep",
    f"""
WITH RECURSIVE {_ORACLE_EMB_EXPLODED},
cl AS (
    SELECT DISTINCT post_cid,
           (strpos('0123456789abcdef', substr(md5(post_cid), 1, 1)) - 1)
           % 16 AS c
    FROM ex
),
pairs AS (
    SELECT a.post_cid AS d1, b.post_cid AS d2
    FROM ex a
    JOIN ex b ON a.i = b.i AND a.post_cid < b.post_cid
    JOIN cl c1 ON c1.post_cid = a.post_cid
    JOIN cl c2 ON c2.post_cid = b.post_cid
    WHERE c1.c = c2.c
    GROUP BY 1, 2
    HAVING ROUND(SUM(a.x * b.x) /
                 (SQRT(SUM(a.x * a.x)) * SQRT(SUM(b.x * b.x))), 6) >= 0.2
),
edges AS (
    SELECT d1 AS src, d2 AS dst FROM pairs
    UNION ALL SELECT d2, d1 FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
closure AS (
    SELECT node, node AS comp FROM nodes
    UNION
    SELECT e.dst AS node, c.comp
    FROM closure c JOIN edges e ON e.src = c.node
    WHERE c.comp < e.dst
),
comps AS (SELECT node, MIN(comp) AS keeper FROM closure GROUP BY node)
SELECT node AS post_cid, keeper FROM comps WHERE node != keeper
""",
    doc="SemDeDup keep-list, ORACLE-EXACT twin configuration: clusters "
    "are the first md5 nibble of the id (data-independent, so DuckDB "
    "replays the bucketing verbatim — the simhash64-md5-twin pattern), "
    "then exact within-cluster cosine >= 0.2 -> connected components "
    "-> drop all but the min-id member. Proves the whole "
    "cluster->GEMM->components->keeper chain hash-exactly; "
    "semantic_dedup_keep_list swaps in trained k-means clusters.",
)
def q_semantic_dedup_md5_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.dedup import (
        semantic_dedup_keep_list,
    )

    return semantic_dedup_keep_list(
        _emb(spark, sf_dir), threshold=0.2, mode="md5", k=16
    )


@register(
    "semantic_dedup_keep_list",
    None,
    doc="SemDeDup production path: deterministic k-means clusters "
    "(operators/ann.py::ivf_index, hash-seeded + sampled training) "
    "scale the pairwise cosine work down ~k-fold, then the same "
    "components->min-id-keeper chain as the hash-exact md5 twin. "
    "Cluster assignment depends on trained centroids, so no SQL "
    "oracle exists by construction (the md5 twin carries the hash "
    "signal); invariants in tests/test_dedup.py.",
)
def q_semantic_dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.dedup import (
        semantic_dedup_keep_list,
    )

    return semantic_dedup_keep_list(
        _emb(spark, sf_dir), threshold=0.4, mode="kmeans", k=8
    )


@register(
    "language_temperature_resample",
    """
WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
quota AS (
    SELECT lang,
           CAST(FLOOR(SQRT(CAST(n * 16 AS DOUBLE))) AS BIGINT) AS lang_quota
    FROM counts
),
ranked AS (
    SELECT doc_id, lang,
           ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ) AS rank_in_lang
    FROM documents
)
SELECT r.doc_id, r.lang, q.lang_quota,
       CAST(r.rank_in_lang AS BIGINT) AS rank_in_lang
FROM ranked r JOIN quota q ON q.lang = r.lang
WHERE r.rank_in_lang <= q.lang_quota
""",
    doc="Temperature-based source rebalancing (the multilingual-corpus "
    "sampling recipe: keep quota ∝ n^(1/T), here T=2 realized as "
    "floor(sqrt(16·n)) so the head language is downsampled ~4x harder "
    "than the tail): deterministic md5-rank selection per language — "
    "reproducible across runs and engines, no RNG. sqrt of an integer "
    "is one exactly-rounded IEEE op, so the quota is bit-deterministic "
    "in both engines (no summation-order seam). Scale shape: one tiny "
    "count agg, a broadcast quota join, and one per-language window — "
    "the md5 sort IS the sample spec; the no-sort Bernoulli variant "
    "(keep iff hash < rate) trades exact quotas for one scan when a "
    "global per-source rank would be the bottleneck.",
)
def q_language_temperature_resample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    quota = (
        docs.groupBy("lang")
        .agg(F.count("*").alias("n"))
        .select(
            "lang",
            F.floor(F.sqrt((F.col("n") * 16).cast("double")))
            .cast("long")
            .alias("lang_quota"),
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = docs.withColumn(
        "rank_in_lang", F.row_number().over(w).cast("long")
    )
    return (
        ranked.join(F.broadcast(quota), "lang")
        .where(F.col("rank_in_lang") <= F.col("lang_quota"))
        .select("doc_id", "lang", "lang_quota", "rank_in_lang")
    )


@register(
    "bernoulli_lang_sample",
    """
WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
rate AS (
    SELECT lang,
           FLOOR(SQRT(CAST(n * 16 AS DOUBLE))) / n * 65536 AS gate
    FROM counts
),
hashed AS (
    SELECT doc_id, lang,
           (strpos('0123456789abcdef',
                   substr(md5('bern:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
           * 4096
           + (strpos('0123456789abcdef',
                     substr(md5('bern:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
           * 256
           + (strpos('0123456789abcdef',
                     substr(md5('bern:' || CAST(doc_id AS VARCHAR)), 3, 1)) - 1)
           * 16
           + (strpos('0123456789abcdef',
                     substr(md5('bern:' || CAST(doc_id AS VARCHAR)), 4, 1)) - 1)
           AS h16
    FROM documents
)
SELECT h.doc_id, h.lang, CAST(h.h16 AS BIGINT) AS h16
FROM hashed h JOIN rate r ON r.lang = h.lang
WHERE h.h16 < r.gate
""",
    doc="The NO-SORT Bernoulli twin of language_temperature_resample "
    "(the scale swap its docstring names): keep a doc iff the first 16 "
    "md5 bits of a salted key fall under the per-language rate gate — "
    "one scan plus a broadcast rate join, no per-language global rank, "
    "which is the shape that survives a source with trillions of rows. "
    "Expected keeps equal the sqrt quota; realized counts are "
    "hash-deterministic (reproducible across runs AND engines: the "
    "gate is sqrt->floor->divide->multiply, all exactly-rounded "
    "single IEEE ops). Salt 'bern:' decorrelates from the split/"
    "rank hashes.",
)
def q_bernoulli_lang_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    rate = (
        docs.groupBy("lang")
        .agg(F.count("*").alias("n"))
        .select(
            "lang",
            (
                F.floor(F.sqrt((F.col("n") * 16).cast("double")))
                / F.col("n")
                * F.lit(65536)
            ).alias("gate"),
        )
    )
    h16 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("bern:"), F.col("doc_id").cast("string"))),
            1,
            4,
        ),
        16,
        10,
    ).cast("long")
    return (
        docs.withColumn("h16", h16)
        .join(F.broadcast(rate), "lang")
        .where(F.col("h16") < F.col("gate"))
        .select("doc_id", "lang", "h16")
    )


# ===========================================================================
# Chunk-level exact dedup + per-language heavy hitters (round 8)
# ===========================================================================


@register(
    "chunk_dedup_stats",
    f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                       x -> x != '') AS t
    FROM documents
),
chunks AS (
    SELECT doc_id,
           UNNEST([array_to_string(list_slice(t, (i-1)*10 + 1, i*10), ' ')
                   for i in generate_series(1, (len(t) + 9) // 10)]) AS chunk
    FROM toks
),
freq AS (
    SELECT chunk, COUNT(*) AS c FROM chunks GROUP BY chunk
)
SELECT chunks.doc_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN freq.c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
FROM chunks JOIN freq USING (chunk)
GROUP BY chunks.doc_id
""",
    doc="Chunk-level exact dedup (M6 dedup family): documents split into "
    "non-overlapping 10-token chunks, chunk text deduplicated "
    "corpus-wide — the fixed-window flavor of C4's line-level exact "
    "dedup for corpora without line structure. Per-doc output: chunk "
    "count and how many of its chunks also occur elsewhere. Scale "
    "shape: explode -> one hash groupBy on the chunk text (map-side "
    "partial agg) -> broadcast-or-shuffle join back; no pairwise "
    "comparisons anywhere.",
)
def q_chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.functions.text import tokenize

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", tokenize("text").alias("t")
    )
    chunks = docs.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("t") > 0,
                F.expr(
                    "transform(sequence(1, CAST((size(t) + 9) / 10 AS INT)),"
                    " i -> array_join(slice(t, (i-1)*10 + 1, 10), ' '))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("chunk"),
    )
    freq = chunks.groupBy("chunk").agg(F.count("*").alias("c"))
    return (
        chunks.join(freq, "chunk")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).alias(
                "n_dup_chunks"
            ),
        )
    )


@register(
    "top_tokens_per_lang",
    """
WITH toks AS (
    SELECT lang,
           UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              x -> x != '')) AS token
    FROM documents
),
cnt AS (
    SELECT lang, token, COUNT(*) AS cnt FROM toks GROUP BY lang, token
)
SELECT lang, token, cnt, rk FROM (
    SELECT lang, token, cnt,
           ROW_NUMBER() OVER (PARTITION BY lang
                              ORDER BY cnt DESC, token) AS rk
    FROM cnt
) WHERE rk <= 5
""",
    doc="Per-language heavy hitters (M6 text analysis): exact token "
    "frequencies via one map-side-combining groupBy, then a top-5 "
    "window per language with a TOTAL order (count desc, token asc) so "
    "ties break deterministically. At 100 TB the exact groupBy is the "
    "honest baseline the count-min/top-k sketches get compared to.",
)
def q_top_tokens_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from echo_chambers_detection_spark.functions.text import tokenize

    toks = _t(spark, sf_dir, "documents").select(
        "lang", F.explode(tokenize("text")).alias("token")
    )
    cnt = toks.groupBy("lang", "token").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("lang").orderBy(
        F.col("cnt").desc(), F.col("token")
    )
    return (
        cnt.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select("lang", "token", "cnt", "rk")
    )


@register(
    "tfidf_top_terms",
    """
WITH toks AS (
    SELECT doc_id,
           UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              x -> x != '')) AS token
    FROM documents
),
tf AS (
    SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token
),
df AS (
    SELECT token, COUNT(*) AS df FROM tf GROUP BY token
)
SELECT doc_id, token, tf, df, score_scaled, rk FROM (
    SELECT tf.doc_id, tf.token, tf.tf, df.df,
           (tf.tf * 1000000) // df.df AS score_scaled,
           ROW_NUMBER() OVER (
               PARTITION BY tf.doc_id
               ORDER BY (tf.tf * 1000000) // df.df DESC, tf.token
           ) AS rk
    FROM tf JOIN df USING (token)
) WHERE rk <= 3
""",
    doc="TF-IDF keyword extraction (M6 text analysis): top-3 terms per "
    "document by tf/df. The score is the exact scaled-integer quotient "
    "tf*1e6 DIV df — integer division is bit-identical across engines, "
    "so ranking and output hash-verify with zero float plumbing (the "
    "idf log is monotone in 1/df at fixed N, so per-doc ORDERING is "
    "unchanged by dropping it; consumers wanting calibrated scores "
    "apply ln(N/df) to the df column downstream). Scale shape: two "
    "map-side-combining groupBys + a window partitioned by doc_id "
    "(bounded per-doc term cardinality) — no global sort.",
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from echo_chambers_detection_spark.functions.text import tokenize

    toks = _t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokenize("text")).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    scored = tf.join(df, "token").withColumn(
        "score_scaled", F.expr("tf * 1000000 DIV df")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_scaled").desc(), F.col("token")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("doc_id", "token", "tf", "df", "score_scaled", "rk")
    )


@register(
    "incremental_dedup_new_batch",
    """
WITH idx AS (
    SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 2 = 0
),
newb AS (
    SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 2 = 1
),
firsts AS (
    SELECT fp, MIN(doc_id) AS doc_id, COUNT(*) AS batch_dups
    FROM newb GROUP BY 1
)
SELECT f.doc_id, f.fp, f.batch_dups
FROM firsts f LEFT JOIN idx i ON i.fp = f.fp
WHERE i.fp IS NULL
""",
    doc="Incremental ingest dedup: a new batch (odd doc_ids standing in "
    "for today's crawl) deduped INTERNALLY (min-id survivor per "
    "fingerprint) and AGAINST the standing corpus index (even doc_ids) "
    "via anti-join — the keep-list a continuously-ingesting training "
    "pipeline appends. Scale shape: one hash agg on fp + one shuffled "
    "anti-join on fp; the index side is never collected or broadcast "
    "unconditionally (it is corpus-sized), and Catalyst pushes the "
    "parity filters into both scans.",
)
def q_incremental_dedup_new_batch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    fp = F.md5("text").alias("fp")
    idx = (
        docs.where(F.col("doc_id") % 2 == 0).select(fp).distinct()
    )
    newb = docs.where(F.col("doc_id") % 2 == 1).select("doc_id", fp)
    firsts = newb.groupBy("fp").agg(
        F.min("doc_id").alias("doc_id"),
        F.count("*").alias("batch_dups"),
    )
    return firsts.join(idx, "fp", "left_anti").select(
        "doc_id", "fp", "batch_dups"
    )


@register(
    "minhash_jaccard_estimate_error",
    f"""
WITH {_ORACLE_TOKS_CTE},
perms AS (SELECT UNNEST(generate_series(0, 15)) AS perm),
sig AS (
    SELECT doc_id, perm, MIN(md5(perm || ':' || s)) AS minhash
    FROM sh, perms GROUP BY 1, 2
),
bands AS (
    SELECT doc_id, perm // 4 AS band,
           md5(string_agg(minhash, '|' ORDER BY perm)) AS band_key
    FROM sig GROUP BY doc_id, perm // 4
),
cand AS (
    SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                AND a.doc_id < b.doc_id
),
est AS (
    SELECT c.d1, c.d2,
           SUM(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) AS m
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.d1
    JOIN sig sb ON sb.doc_id = c.d2 AND sb.perm = sa.perm
    GROUP BY 1, 2
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
shared AS (
    SELECT c.d1, c.d2, COUNT(*) AS c
    FROM cand c
    JOIN sh a ON a.doc_id = c.d1
    JOIN sh b ON b.doc_id = c.d2 AND b.s = a.s
    GROUP BY 1, 2
)
SELECT e.d1, e.d2,
       ROUND(e.m / 16.0, 6) AS est_jaccard,
       ROUND(COALESCE(sh2.c, 0) * 1.0
             / (s1.sz + s2.sz - COALESCE(sh2.c, 0)), 6) AS exact_jaccard
FROM est e
LEFT JOIN shared sh2 ON sh2.d1 = e.d1 AND sh2.d2 = e.d2
JOIN sizes s1 ON s1.doc_id = e.d1
JOIN sizes s2 ON s2.doc_id = e.d2
""",
    doc="Estimator-quality audit for the MinHash chain: for every LSH "
    "candidate pair, the 16-permutation signature agreement (an exact "
    "binary fraction m/16) next to the true shingle Jaccard — the "
    "calibration table you sample before trusting near-dup thresholds "
    "on a new corpus. Scale shape: the pair set is the LSH candidate "
    "output (never all-pairs); signature agreement joins on (doc, "
    "perm) with 16 rows per doc; the exact-Jaccard leg touches only "
    "candidate docs' shingles via bucketed equi-joins.",
)
def q_minhash_jaccard_estimate_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from echo_chambers_detection_spark.operators.dedup import (
        doc_shingles,
        lsh_band_keys,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    # sh / sig / cand each feed 2-4 DAG branches below; without
    # materialization Catalyst re-runs the shingle+signature pipeline
    # once per branch. These frames are doc-count-sized (shingles ~50x
    # docs, signatures 16x docs, candidates the LSH output), not
    # corpus-text-sized, so eager checkpoints are cheap at any SF and
    # keep AQE stats live for the downstream joins (a LAZY checkpoint
    # here measured 3x slower: the unknown-stats barrier forces
    # sort-merge plans).
    # _checkpoint = the same plain eager localCheckpoint (stats stay live
    # for AQE, unlike _materialize's stats-free rebuild — the 3x
    # sort-merge regression noted above) with block ids recorded, so the
    # query's scope hands them to the result (leak census r10)
    from echo_chambers_detection_spark.operators.graph import (
        _checkpoint,
    )

    sh = _checkpoint(
        doc_shingles(_docs_spread(spark, sf_dir)).coalesce(8)
    )
    sig = _checkpoint(minhash_signatures(sh, num_perm=16).coalesce(4))
    cand = _checkpoint(
        lsh_candidate_pairs(lsh_band_keys(sig, rows_per_band=4)).coalesce(1)
    )
    sa = sig.select(
        F.col("doc_id").alias("d1"), "perm",
        F.col("minhash").alias("mh1"),
    )
    sb = sig.select(
        F.col("doc_id").alias("d2"), "perm",
        F.col("minhash").alias("mh2"),
    )
    est = (
        cand.join(sa, "d1")
        .join(sb, ["d2", "perm"])
        .groupBy("d1", "d2")
        .agg(
            F.sum(
                F.when(F.col("mh1") == F.col("mh2"), 1).otherwise(0)
            ).alias("m")
        )
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("doc_id").alias("d1"), F.col("shingle").alias("s"))
    b = sh.select(F.col("doc_id").alias("d2"), F.col("shingle").alias("s"))
    shared = (
        cand.join(a, "d1").join(b, ["d2", "s"]).groupBy("d1", "d2")
        .agg(F.count("*").alias("c"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("sz").alias("sz2"))
    c = F.coalesce(F.col("c"), F.lit(0))
    return (
        est.join(shared, ["d1", "d2"], "left")
        .join(s1, "d1")
        .join(s2, "d2")
        .select(
            "d1", "d2",
            F.round(F.col("m") / F.lit(16.0), 6).alias("est_jaccard"),
            F.round(
                c * F.lit(1.0) / (F.col("sz1") + F.col("sz2") - c), 6
            ).alias("exact_jaccard"),
        )
    )


@register(
    "token_pmi_collocations",
    f"""
WITH {_ORACLE_TOKS_CTE},
dt AS (
    SELECT DISTINCT doc_id, x AS w
    FROM (SELECT doc_id, UNNEST(t) AS x FROM toks)
),
nd AS (SELECT COUNT(*) AS n FROM documents),
dfq AS (SELECT w, COUNT(*) AS c FROM dt GROUP BY 1),
pairs AS (
    SELECT a.w AS w1, b.w AS w2, COUNT(*) AS c_ab
    FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.w < b.w
    GROUP BY 1, 2
)
SELECT p.w1, p.w2, p.c_ab, d1.c AS c1, d2.c AS c2,
       p.c_ab * nd.n * 1000000 // (d1.c * d2.c) AS lift_scaled
FROM pairs p
JOIN dfq d1 ON d1.w = p.w1
JOIN dfq d2 ON d2.w = p.w2, nd
WHERE p.c_ab >= 5
""",
    doc="Document-level token collocations: pairwise co-occurrence "
    "lift (PMI's argument, exact scaled-integer quotient c_ab*N*1e6 "
    "DIV c1*c2 — the same drop-the-monotone-log discipline as "
    "tfidf_top_terms, so the hash check has zero float plumbing; "
    "PMI = ln(lift/1e6) downstream). The collocation table is the "
    "phrase-mining / tokenizer-merge-candidate primitive over a "
    "training corpus. Scale shape: the doc-token incidence self-join "
    "fans out per-document (bounded by per-doc distinct tokens, not "
    "corpus size), then ONE map-side-combining agg on the bounded "
    "vocabulary-pair key; document frequencies broadcast-join back.",
)
def q_token_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.functions.text import tokenize

    docs = _docs_spread(spark, sf_dir)
    dt = docs.select(
        "doc_id", F.explode(F.array_distinct(tokenize("text"))).alias("w")
    )
    # corpus size as a broadcast 1-row frame, not a driver-side count
    nd = docs.agg(F.count("*").alias("n"))
    dfq = dt.groupBy("w").agg(F.count("*").alias("c"))
    a = dt.select("doc_id", F.col("w").alias("w1"))
    b = dt.select("doc_id", F.col("w").alias("w2"))
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("w1") < F.col("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c_ab"))
        .where(F.col("c_ab") >= 5)
    )
    d1 = dfq.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    d2 = dfq.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    # no broadcast hint on the vocabulary frames: a web-scale corpus's
    # distinct-token table can exceed broadcast limits, so let AQE pick
    # broadcast-vs-shuffle from the measured size at runtime (the 1-row
    # corpus count is the only always-broadcastable side)
    return (
        pairs.join(d1, "w1")
        .join(d2, "w2")
        .crossJoin(F.broadcast(nd))
        .select(
            "w1", "w2", "c_ab", "c1", "c2",
            F.expr("c_ab * n * 1000000L DIV (c1 * c2)").alias(
                "lift_scaled"
            ),
        )
    )


@register(
    "chunk_dedup_scrubbed_docs",
    """
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                       x -> x != '') AS t
    FROM documents
),
chunks AS (
    -- parallel UNNESTs zip positionally in DuckDB: (chunk, pos) pairs
    SELECT doc_id,
           UNNEST([array_to_string(list_slice(t, (i-1)*10 + 1, i*10), ' ')
                   for i in generate_series(1, (len(t) + 9) // 10)]) AS chunk,
           UNNEST(generate_series(1, (len(t) + 9) // 10)) AS pos
    FROM toks
),
kept AS (
    SELECT doc_id, chunk, pos
    FROM (
        SELECT doc_id, chunk, pos,
               ROW_NUMBER() OVER (
                   PARTITION BY chunk ORDER BY doc_id, pos
               ) AS rk
        FROM chunks
    ) WHERE rk = 1
),
rebuilt AS (
    SELECT doc_id,
           COUNT(*) AS n_kept_chunks,
           md5(string_agg(chunk, ' ' ORDER BY pos)) AS scrubbed_md5
    FROM kept GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(r.n_kept_chunks, 0) AS n_kept_chunks,
       COALESCE(r.scrubbed_md5, md5('')) AS scrubbed_md5
FROM documents d LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
""",
    doc="Chunk-level dedup as a document TRANSFORM, not just stats "
    "(the C4 line-dedup rule applied to fixed 10-token chunks): every "
    "chunk survives in exactly one place corpus-wide — the globally "
    "first (doc_id, pos) occurrence — and each document is rebuilt "
    "from its surviving chunks in original order (output as md5 so "
    "the hash check pins the exact reassembled text). Scale shape: "
    "posexplode -> ONE window partitioned by chunk text (the dedup "
    "arbitration — a shuffle on the chunk key, no global sort) -> "
    "order-preserving reassembly via sort_array over per-doc structs "
    "-> anti-joined empties restored with a LEFT join. The same plan "
    "C4/RefinedWeb-style pipelines run at corpus scale.",
)
def q_chunk_dedup_scrubbed_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    from echo_chambers_detection_spark.functions.text import tokenize

    docs = _docs_spread(spark, sf_dir)
    toks = docs.select("doc_id", tokenize("text").alias("t"))
    chunks = toks.select(
        "doc_id",
        F.posexplode(
            F.when(
                F.size("t") > 0,
                F.expr(
                    "transform(sequence(1, CAST((size(t) + 9) / 10 AS INT)),"
                    " i -> array_join(slice(t, (i-1)*10 + 1, 10), ' '))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos0", "chunk"),
    ).select("doc_id", "chunk", (F.col("pos0") + 1).alias("pos"))
    w = Window.partitionBy("chunk").orderBy("doc_id", "pos")
    kept = (
        chunks.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .drop("rk")
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept_chunks"),
        F.md5(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("pos", "chunk"))
                    ),
                    lambda s: s["chunk"],
                ),
                " ",
            )
        ).alias("scrubbed_md5"),
    )
    return docs.select("doc_id").join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_kept_chunks", F.lit(0)).alias("n_kept_chunks"),
        F.coalesce("scrubbed_md5", F.md5(F.lit(""))).alias("scrubbed_md5"),
    )


@register(
    "priority_dedup_keep",
    """
SELECT md5(text) AS fp,
       MIN_BY(doc_id, CAST(substr(source, 4) AS BIGINT) * 1000000000
                      + doc_id) AS keep_id,
       MIN_BY(source, CAST(substr(source, 4) AS BIGINT) * 1000000000
                      + doc_id) AS keep_source,
       COUNT(*) AS group_size
FROM documents
GROUP BY 1
""",
    doc="Exact dedup with SOURCE-PRIORITY survivor selection (the "
    "Dolma/RedPajama rule: when the same content appears in several "
    "sources, keep the copy from the most-trusted one): arg-min "
    "aggregation on a composite bigint key (source rank scaled above "
    "the doc_id tiebreak), one map-side-combining groupBy — no window, "
    "no join-back. Source rank here = the fixture's numeric suffix; a "
    "production pipeline substitutes its trust table. Complements "
    "exact_dedup_groups (plain min-id survivor).",
)
def q_priority_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    # unbounded suffix (substring to end-of-string), matching the oracle's
    # substr(source, 4) — a fixed-width window would silently truncate a
    # rank suffix longer than it. The composite key assumes doc_id < 1e9
    # (true for every fixture SF; a production run with wider ids should
    # widen the scale factor or switch to a struct-ordered min_by).
    key = (
        F.expr("substring(source, 4)").cast("bigint") * F.lit(1000000000)
        + F.col("doc_id")
    )
    return (
        _t(spark, sf_dir, "documents")
        .groupBy(F.md5("text").alias("fp"))
        .agg(
            F.min_by("doc_id", key).alias("keep_id"),
            F.min_by("source", key).alias("keep_source"),
            F.count("*").alias("group_size"),
        )
    )


@register(
    "token_rarity_scores",
    """
WITH toks AS (
    SELECT doc_id,
           UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              x -> x != '')) AS w
    FROM documents
),
freq AS (
    SELECT w, COUNT(*) AS c FROM toks GROUP BY w
)
SELECT toks.doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(length(bin(freq.c)) - 1) AS BIGINT) AS sum_rarity,
       CAST(MAX(length(bin(freq.c)) - 1) AS BIGINT) AS max_rarity
FROM toks JOIN freq USING (w)
GROUP BY toks.doc_id
""",
    doc="Corpus-frequency token rarity scoring (M6 text analysis): the "
    "CCNet/perplexity-filter idea — score each document by how "
    "surprising its tokens are under the corpus unigram distribution "
    "— with the surprisal quantized to INTEGER log2 buckets "
    "(floor(log2(count)) = binary-representation length - 1) so the "
    "whole pass is integer arithmetic and hash-exact: a true -ln(p) "
    "average is order-dependent float summation that no two engines "
    "reproduce bit-for-bit. Low sum_rarity/n_tokens = rare-token-heavy "
    "(junk or exotic) documents, high = stopword soup; both tails get "
    "cut in a curation pipeline. Scale shape: one vocab groupBy "
    "(map-side combine), one token->vocab join (AQE "
    "broadcast-or-shuffle; the vocab frame is the classic dimension "
    "side), one per-doc groupBy. No Python anywhere.",
)
def q_token_rarity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.functions.text import tokenize

    toks = _docs_spread(spark, sf_dir).select(
        "doc_id", F.explode(tokenize("text")).alias("w")
    )
    freq = toks.groupBy("w").agg(F.count("*").alias("c"))
    rarity = F.length(F.bin("c")) - F.lit(1)
    return (
        toks.join(freq, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(rarity).cast("bigint").alias("sum_rarity"),
            F.max(rarity).cast("bigint").alias("max_rarity"),
        )
    )


@register(
    "bigram_lm_cross_entropy",
    """
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                       x -> x != '') AS ws
    FROM documents
),
bg AS (
    SELECT doc_id, unnest(ws[1:len(ws)-1]) AS w1, unnest(ws[2:len(ws)]) AS w2
    FROM toks
),
cbg AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2),
cpre AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1)
SELECT bg.doc_id,
       COUNT(*) AS n_bigrams,
       CAST(SUM((length(bin(cpre.c1)) - 1) - (length(bin(cbg.c2)) - 1)) AS BIGINT) AS sum_surprisal,
       CAST(MAX((length(bin(cpre.c1)) - 1) - (length(bin(cbg.c2)) - 1)) AS BIGINT) AS max_surprisal
FROM bg JOIN cbg USING (w1, w2) JOIN cpre USING (w1)
GROUP BY bg.doc_id
""",
    doc="Bigram-LM cross-entropy scoring (M6 text analysis): the "
    "perplexity-filter idiom one order up from token_rarity_scores — "
    "score each document by how surprising its BIGRAMS are under the "
    "corpus bigram model, i.e. -log2 p(w2|w1) with p = c(w1,w2)/c(w1,·). "
    "The surprisal is quantized to the integer floor(log2 c(w1,·)) - "
    "floor(log2 c(w1,w2)) (binary-representation lengths), which is "
    ">= 0 by count monotonicity and keeps the whole pass in integer "
    "arithmetic, hence hash-exact — a float -ln(p) average is "
    "order-dependent summation no two engines reproduce bitwise. High "
    "mean surprisal = incoherent word salad the unigram filter can't "
    "see (every word common, no bigram ever seen); near-zero = "
    "boilerplate. Scale shape: the bigram stream is built by zipping "
    "the token array against itself (no window function), then two "
    "vocab groupBys (map-side combine) and two AQE "
    "broadcast-or-shuffle dimension joins, one per-doc groupBy. No "
    "Python anywhere.",
)
def q_bigram_lm_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.functions.text import tokenize

    toks = _docs_spread(spark, sf_dir).select(
        "doc_id", tokenize("text").alias("ws")
    )
    bg = (
        toks.where(F.size("ws") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("ws", 1, F.size("ws") - 1).alias("w1"),
                    F.expr("slice(ws, 2, size(ws) - 1)").alias("w2"),
                )
            ).alias("z"),
        )
        .select("doc_id", F.col("z.w1").alias("w1"), F.col("z.w2").alias("w2"))
    )
    cbg = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    cpre = bg.groupBy("w1").agg(F.count("*").alias("c1"))
    sur = (F.length(F.bin("c1")) - 1) - (F.length(F.bin("c2")) - 1)
    return (
        bg.join(cbg, ["w1", "w2"])
        .join(cpre, ["w1"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(sur).cast("bigint").alias("sum_surprisal"),
            F.max(sur).cast("bigint").alias("max_surprisal"),
        )
    )


_PII_EMAIL = r"[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,4}"
_PII_PHONE = r"\+[0-9]{2}-[0-9]{3}-[0-9]{4}"
_PII_IP = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"


@register(
    "pii_redaction_stats",
    f"""
WITH pii AS (
    SELECT doc_id,
           text ||
           CASE WHEN doc_id % 3 = 0
                THEN ' contact user' || (doc_id % 50) || '@mail' || (doc_id % 7) || '.example.com'
                ELSE '' END ||
           CASE WHEN doc_id % 4 = 0
                THEN ' ip=10.' || (doc_id % 256) || '.0.' || (doc_id % 100)
                ELSE '' END ||
           CASE WHEN doc_id % 5 = 0
                THEN ' tel +41-555-' || (1000 + doc_id % 9000)
                ELSE '' END AS t
    FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g'), '{_PII_IP}')) AS BIGINT) AS n_ips,
       CAST(length(regexp_replace(regexp_replace(regexp_replace(t,
            '{_PII_EMAIL}', '<EMAIL>', 'g'), '{_PII_PHONE}', '<TEL>', 'g'), '{_PII_IP}', '<IP>', 'g')) AS BIGINT) AS redacted_len
FROM pii
""",
    doc="PII detect + redact pass (M6 curation): per-document counts of "
    "email / phone / IPv4 matches and the post-redaction length, over "
    "text with synthetic PII woven in deterministically from doc_id "
    "(the url_curation_stats fixture pattern — the corpus itself "
    "carries no PII, so the workload is planted to keep real signal: "
    "167/100/125 nonzero rows per class at sf0.01). Emails are "
    "redacted BEFORE the IPv4 scan so a dotted mail host can't "
    "double-count; patterns are anchored-free simple classes that "
    "behave identically under Java regex and RE2. Scale shape: pure "
    "per-row JVM regex in one projection — no shuffle at all; the "
    "100 TB plan is scan -> codegen -> sink, and the redacted text "
    "itself (not re-emitted here) would be written scan-side exactly "
    "like chunk_dedup_scrubbed_docs.",
)
def q_pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = F.col("doc_id")
    t = F.concat(
        F.col("text"),
        F.when(
            d % 3 == 0,
            F.concat(
                F.lit(" contact user"),
                (d % 50).cast("string"),
                F.lit("@mail"),
                (d % 7).cast("string"),
                F.lit(".example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            d % 4 == 0,
            F.concat(
                F.lit(" ip=10."),
                (d % 256).cast("string"),
                F.lit(".0."),
                (d % 100).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            d % 5 == 0,
            F.concat(
                F.lit(" tel +41-555-"), (1000 + d % 9000).cast("string")
            ),
        ).otherwise(F.lit("")),
    )
    docs = _docs_spread(spark, sf_dir).select("doc_id", t.alias("t"))
    no_email = F.regexp_replace("t", _PII_EMAIL, "<EMAIL>")
    red = F.regexp_replace(
        F.regexp_replace(no_email, _PII_PHONE, "<TEL>"), _PII_IP, "<IP>"
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("t", F.lit(_PII_EMAIL), 0))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("t", F.lit(_PII_PHONE), 0))
        .cast("bigint")
        .alias("n_phones"),
        F.size(F.regexp_extract_all(no_email, F.lit(_PII_IP), 0))
        .cast("bigint")
        .alias("n_ips"),
        F.length(red).cast("bigint").alias("redacted_len"),
    )


_URL_BLOCKLIST = ("cdn13.example.org", "cdn42.example.org", "cdn77.example.org")


@register(
    "url_curation_stats",
    f"""
WITH urls AS (
    SELECT doc_id, source,
           'HTTPS://' ||
           CASE WHEN doc_id % 7 = 0 THEN 'WWW.' ELSE '' END ||
           'cdn' || (doc_id % 97) || '.Example.Org/p/' || (doc_id % 1000) ||
           CASE doc_id % 3 WHEN 0 THEN '?utm=x' WHEN 1 THEN '/' ELSE '' END
           AS url
    FROM documents
),
canon AS (
    SELECT doc_id, source,
           regexp_replace(
               regexp_replace(
                   regexp_replace(lower(url), '^https?://(www\\.)?', ''),
                   '[?#].*$', ''),
               '/$', '') AS curl
    FROM urls
),
hosts AS (
    SELECT doc_id, source, curl,
           regexp_extract(curl, '^[^/]+') AS host
    FROM canon
),
bl(bhost) AS (VALUES {", ".join(f"('{h}')" for h in _URL_BLOCKLIST)})
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(CASE WHEN bl.bhost IS NOT NULL THEN 1 END) AS n_blocked,
       COUNT(CASE WHEN bl.bhost IS NULL THEN 1 END) AS n_kept,
       COUNT(DISTINCT CASE WHEN bl.bhost IS NULL THEN curl END)
           AS n_distinct_kept_urls
FROM hosts LEFT JOIN bl ON hosts.host = bl.bhost
GROUP BY source
""",
    doc="URL canonicalization + host-blocklist curation (M6): the "
    "refined-web/C4 pre-dedup step — lowercase, strip scheme and "
    "leading www., drop query/fragment, drop trailing slash, then "
    "extract the host and anti-match it against a blocklist TABLE "
    "(not a hardcoded predicate: production swaps in the UT1/Blacklist "
    "feeds). URLs are synthesized deterministically from doc_id "
    "(documents carry no URL column), the multimodal-family pattern: "
    "fake data, REAL plumbing. Per-source output: total, blocked, "
    "kept, and distinct canonical URLs among kept (the URL-level dedup "
    "cardinality). Scale shape: JVM regex chain, blocklist "
    "broadcast-joined (a genuinely bounded dimension — the legit "
    "broadcast case), one groupBy(source) with map-side combine; the "
    "count_distinct is per-source partial-aggregated.",
)
def q_url_curation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    url = F.concat(
        F.lit("HTTPS://"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("cdn"),
        (F.col("doc_id") % 97).cast("string"),
        F.lit(".Example.Org/p/"),
        (F.col("doc_id") % 1000).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("?utm=x"))
        .when(F.col("doc_id") % 3 == 1, F.lit("/"))
        .otherwise(F.lit("")),
    )
    curl = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.lower(url), "^https?://(www\\.)?", ""),
            "[?#].*$",
            "",
        ),
        "/$",
        "",
    )
    hosts = docs.select(
        "source",
        curl.alias("curl"),
        F.regexp_extract(curl, "^[^/]+", 0).alias("host"),
    )
    bl = driver_frame(spark, [(h,) for h in _URL_BLOCKLIST], "bhost string")
    joined = hosts.join(
        F.broadcast(bl), hosts.host == bl.bhost, "left"
    )
    blocked = F.col("bhost").isNotNull()
    return joined.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(blocked, 1)).alias("n_blocked"),
        F.count(F.when(~blocked, 1)).alias("n_kept"),
        F.count_distinct(F.when(~blocked, F.col("curl"))).alias(
            "n_distinct_kept_urls"
        ),
    )


@register(
    "corpus_snapshot_diff",
    """
WITH a AS (
    SELECT doc_id, md5(text) AS h, length(text) AS len FROM documents
),
b AS (
    SELECT CASE WHEN doc_id % 11 = 0 THEN doc_id + 1000000
                ELSE doc_id END AS doc_id,
           md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS h,
           length(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS len
    FROM documents WHERE doc_id % 13 != 0
),
j AS (
    SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
           CASE WHEN a.doc_id IS NULL THEN 'added'
                WHEN b.doc_id IS NULL THEN 'removed'
                WHEN a.h != b.h THEN 'changed'
                ELSE 'unchanged' END AS status,
           COALESCE(b.len, 0) AS len_b
    FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
)
SELECT status,
       COUNT(*) AS n_docs,
       CAST(SUM(len_b) AS BIGINT) AS n_chars_b
FROM j GROUP BY status
""",
    doc="Corpus SNAPSHOT DIFF (dataset versioning, the Hugging-Face-"
    "datasets / DVC revision-compare op a production corpus needs "
    "before retraining): snapshot B is synthesized deterministically "
    "from the documents table (doc_id%13 dropped = removed, doc_id%7 "
    "text-modified = changed, doc_id%11 re-keyed = added — fake data, "
    "real plumbing, the multimodal-family pattern), and the diff is "
    "ONE full-outer join on the id key comparing CONTENT HASHES, never "
    "shipping full texts through the shuffle (md5 + length computed "
    "scan-side). Per-status doc and byte counts. Scale shape: with "
    "both snapshots bucketed by doc_id the join is co-located and "
    "shuffle-free; unbucketed it is a single hash-partitioned "
    "exchange; the aggregation is 4-key map-side combine.",
)
def q_corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    a = docs.select(
        "doc_id",
        F.md5("text").alias("h"),
        F.length("text").alias("len"),
    )
    btxt = F.when(
        F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
    ).otherwise(F.col("text"))
    b = (
        docs.where(F.col("doc_id") % 13 != 0)
        .select(
            F.when(F.col("doc_id") % 11 == 0, F.col("doc_id") + 1000000)
            .otherwise(F.col("doc_id"))
            .alias("doc_id"),
            F.md5(btxt).alias("h"),
            F.length(btxt).alias("len"),
        )
    )
    j = a.alias("a").join(
        b.alias("b"), F.col("a.doc_id") == F.col("b.doc_id"), "full_outer"
    )
    status = (
        F.when(F.col("a.doc_id").isNull(), F.lit("added"))
        .when(F.col("b.doc_id").isNull(), F.lit("removed"))
        .when(F.col("a.h") != F.col("b.h"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(
            status.alias("status"),
            F.coalesce(F.col("b.len"), F.lit(0)).alias("len_b"),
        )
        .groupBy("status")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("len_b").cast("bigint").alias("n_chars_b"),
        )
    )


@register(
    "stratified_sample_exact",
    """
WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
rk AS (
    SELECT doc_id, lang,
           ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR)), doc_id
           ) AS i
    FROM documents
)
SELECT r.doc_id, r.lang, r.i AS sample_rank
FROM rk r JOIN counts c ON c.lang = r.lang
WHERE r.i <= CAST(CEIL(c.n * 0.1) AS BIGINT)
""",
    doc="EXACT-count stratified sample: per language keep exactly "
    "ceil(0.1·n) documents — the ones with the smallest salted-md5 "
    "rank, a total order so membership is deterministic and "
    "partitioning-invariant. This is the eval-holdout carve "
    "(bernoulli_lang_sample is its no-sort probabilistic twin: same "
    "salted-hash key, rate gate instead of rank, for the regime where "
    "a per-stratum sort is not worth an exact count). Scale shape: "
    "one groupBy for the counts dim (broadcast back), one rank window "
    "partitioned by the bounded lang key; at 100 TB swap the rank for "
    "a quantile threshold on the same hash key — membership stays "
    "identical for any stratum whose threshold is exact.",
)
def q_stratified_sample_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n"))
    rk = docs.select(
        "doc_id",
        "lang",
        F.row_number()
        .over(
            Window.partitionBy("lang").orderBy(
                F.md5(F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))),
                "doc_id",
            )
        )
        .alias("sample_rank"),
    )
    return (
        rk.join(F.broadcast(counts), "lang")
        .where(F.col("sample_rank") <= F.ceil(F.col("n") * 0.1))
        .select("doc_id", "lang", "sample_rank")
    )
