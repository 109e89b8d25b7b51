"""Driver contract for the spark-graft builder (PySpark target).

Every ``queries()`` entry exercises an operator family from SURVEY.md §2
through the engine package (`stop_sync_osm_atlas_spark`), and has an
exact ANSI-SQL oracle in ``oracle_sql()`` (DuckDB dialect) unless the
operator is non-SQL-expressible (those are rows-only checked).

Cross-engine determinism rules used throughout:
- every float aggregate is round()ed identically on both sides;
- all hashing bottoms out in md5 (bit-identical across engines);
- regexes use the Java-regex/RE2/`re` common subset;
- session timezone pinned to UTC (matches DuckDB's naive timestamps).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from stop_sync_osm_atlas_spark.fixtures.norm_tables import (
    ALL_STOPWORDS,
    LANGS,
    PII_PATTERNS,
    STOPWORDS,
    TOXICITY_TERMS,
)
from stop_sync_osm_atlas_spark.functions import text as TX
from stop_sync_osm_atlas_spark.functions.langid import langid_marker_cols
from stop_sync_osm_atlas_spark.operators import dedup as DD
from stop_sync_osm_atlas_spark.operators.lines import BULLET_CHARS, ELLIPSES
from stop_sync_osm_atlas_spark.operators import scrub as SC
from stop_sync_osm_atlas_spark.operators import similarity as SIM
from stop_sync_osm_atlas_spark.operators.rules import (
    RULE_DECISION,
    RULE_PRIORITY,
    RuleConfig,
    metadata_rule_hits,
    with_rule_resolution,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # the driver may run these in its own session: pin UTC so timestamp
    # semantics match DuckDB's naive-UTC regardless of host config
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# SQL snippet helpers (single source of truth: fixtures/norm_tables.py)
# ---------------------------------------------------------------------------

# Explicit ASCII-whitespace regex class (functions/text.WS_CLASS twin):
# RE2's \s EXCLUDES \x0b while Java's includes it, so every oracle
# split/collapse pattern uses this class — both engines cut identical
# bytes even on vertical-tab text.
_WS_RE = "[ \\t\\n\\x0b\\x0c\\r]"


def _sql_words(col: str) -> str:
    # trim on the full ASCII-whitespace charset (_WS), mirroring
    # functions/text.words: space-only trim leaves tab/CRLF padding that
    # splits into phantom '' tokens and inflates every word count;
    # split on the explicit _WS_RE class (RE2 \s would skip \x0b)
    return (
        f"CASE WHEN {col} IS NOT NULL AND trim({col}, {_WS}) <> '' "
        f"THEN string_split_regex(lower(trim({col}, {_WS})), '{_WS_RE}+') "
        f"ELSE [] END"
    )


def _sql_list(xs: list[str]) -> str:
    return "[" + ", ".join(f"'{x}'" for x in xs) + "]"


def _ngram_ctes(
    src: str,
    top_ns: tuple[int, ...],
    dup_ns: tuple[int, ...],
    tag: str = "ng",
) -> tuple[str, str]:
    """CTE chain re-deriving operators/lines.ngram_stats over a source
    CTE with (doc_id, text): -> (ctes_sql, final_cte_name). The final
    CTE carries doc_id + the engine's exact column names, one row per
    source doc (token-less docs report 0.0). Mirrors the engine
    contract: 1-gram stream supplies norm_len, tail grams without a
    full lead window are excluded, fractions capped at 1.0, round 6."""
    all_ns = sorted(set(top_ns) | set(dup_ns) | {1})
    max_n = max(all_ns)
    leads = ",\n    ".join(
        [f"lead(tok, {k}) OVER w AS l{k}" for k in range(1, max_n)]
        # max n = 1 still needs a syntactically valid (if unused) window
        or ["lead(tok, 1) OVER w AS l1"]
    )
    gram_selects = []
    for n in all_ns:
        parts = " || ' ' || ".join(
            ["tok"] + [f"l{k}" for k in range(1, n)]
        )
        guard = f" WHERE l{n - 1} IS NOT NULL" if n > 1 else ""
        gram_selects.append(
            f"SELECT doc_id, {n} AS n, {parts} AS gram FROM {tag}_led{guard}"
        )
    grams = "\n  UNION ALL\n  ".join(gram_selects)
    pivot = ",\n    ".join(
        [
            f"max(CASE WHEN n = {n} THEN top_w END) AS t{n}"
            for n in top_ns
        ]
        + [
            f"max(CASE WHEN n = {n} THEN dup_w END) AS d{n}"
            for n in dup_ns
        ]
        + [
            "max(CASE WHEN n = 1 THEN all_w END)"
            " + max(CASE WHEN n = 1 THEN n_occ END) - 1 AS nl"
        ]
    )
    fracs = ",\n    ".join(
        [
            f"round(least(1.0, coalesce(t{n} * 1.0 / nl, 0.0)), 6)"
            f" AS top_{n}gram_char_frac"
            for n in top_ns
        ]
        + [
            f"round(least(1.0, coalesce(d{n} * 1.0 / nl, 0.0)), 6)"
            f" AS dup_{n}gram_char_frac"
            for n in dup_ns
        ]
    )
    ctes = f"""{tag}_tok AS (
  SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS tok
  FROM (SELECT doc_id, {_sql_words('text')} AS l FROM {src})
),
{tag}_led AS (
  SELECT doc_id, tok,
    {leads}
  FROM {tag}_tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
{tag}_grams AS (
  {grams}
),
{tag}_pern AS (
  SELECT doc_id, n,
    -- most-frequent gram's char mass (argmax by count, mass tie-break)
    (max({{'c': c, 'w': c * length(gram)}})).w AS top_w,
    sum(CASE WHEN c > 1 THEN c * length(gram) ELSE 0 END) AS dup_w,
    sum(c * length(gram)) AS all_w,
    sum(c) AS n_occ
  FROM (SELECT doc_id, n, gram, count(*) AS c
        FROM {tag}_grams GROUP BY doc_id, n, gram)
  GROUP BY doc_id, n
),
{tag}_doc AS (
  SELECT doc_id,
    {pivot}
  FROM {tag}_pern GROUP BY doc_id
),
{tag} AS (
  SELECT s.doc_id,
    {fracs}
  FROM {src} s LEFT JOIN {tag}_doc USING (doc_id)
)"""
    return ctes, tag


def _sql_line_format_sums() -> str:
    """Per-doc bullet/ellipsis occurrence sums over (form, c) rows —
    interpolated from operators/lines.BULLET_CHARS / ELLIPSES so the
    charset has ONE source of truth across the engine and both oracle
    bodies (q20 ls_doc, q02 lsd)."""
    bullets = ", ".join(f"'{b}'" for b in BULLET_CHARS)
    ell = " OR ".join(f"form LIKE '%{e}'" for e in ELLIPSES)
    return (
        f"sum(CASE WHEN substr(form, 1, 1) IN ({bullets})\n"
        f"             THEN c ELSE 0 END) AS bullets,\n"
        f"    sum(CASE WHEN {ell}\n"
        f"             THEN c ELSE 0 END) AS ellipses"
    )


def _sql_symbol_ratio(col: str) -> str:
    nospace = f"regexp_replace(coalesce({col}, ''), '{_WS_RE}+', '', 'g')"
    clean = f"regexp_replace({nospace}, '[^A-Za-z0-9 \\t\\n\\x0b\\x0c\\r]', '', 'g')"
    return (
        f"CASE WHEN length({nospace}) > 0 "
        f"THEN (length({nospace}) - length({clean})) * 1.0 / length({nospace}) "
        f"ELSE 0.0 END"
    )


def _sql_scrub(col: str) -> str:
    out = col
    for _, pat, repl in PII_PATTERNS:
        p = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{p}', '{repl}', 'g')"
    import re as _re

    terms = "|".join(_re.escape(t) for t, _ in TOXICITY_TERMS)
    return f"regexp_replace({out}, '\\b({terms})\\b', '<TOX>', 'g')"


def _sql_langid(words_expr: str) -> tuple[str, str]:
    """(lang_expr, per-lang hit exprs as CTE-ready select list)."""
    hit_exprs = {
        lang: (
            f"len(list_filter({words_expr}, x -> "
            f"list_contains({_sql_list(STOPWORDS[lang])}, x)))"
        )
        for lang in LANGS
    }
    best = "greatest(" + ", ".join(f"h_{lang}" for lang in LANGS) + ")"
    # ties -> max lang name, mirror of the engine's array_max(struct)
    case = "CASE "
    for lang in sorted(LANGS, reverse=True):
        case += f"WHEN h_{lang} = best AND best > 0 THEN '{lang}' "
    case += "ELSE 'und' END"
    selects = ", ".join(f"{e} AS h_{lang}" for lang, e in hit_exprs.items())
    return case.replace("best", f"({best})"), selects


# ---------------------------------------------------------------------------
# TPC-H-ish operator queries
# ---------------------------------------------------------------------------

def q01_pricing_summary(spark, sf):
    """A1/A9 grouped multi-agg with pushed-down filter (TPC-H Q1 shape)."""
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") <= "1997-09-01")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("n"),
        )
    )


# prepare_corpus's caching contract leaves its decisions frame
# persisted; the driver/bench materialize q02 and move on, so keep at
# most ONE live cached frame across repeated calls (bench best-of-3
# previously accumulated one per run — ADVICE r4).
_Q02_LIVE: list[DataFrame] = []


def q02_corpus_prep(spark, sf):
    """The composed LLM-corpus preparation pipeline graded END-TO-END
    (plans/corpus.prepare_corpus), BOTH output frames in one union:
    mode='decision' = line cleaning -> exact dedup -> MinHash-LSH
    near-dedup -> Gopher line gates (repetition, bullet-start,
    ellipsis-end) -> length gates -> word-n-gram repetition gate ->
    Gopher word gates (mean word length, alpha-word fraction,
    stopword presence) -> fused-trained quality-model
    ladder, one row per input doc; mode='bin' = the
    SAME run's packed training bins over the kept docs (the artifact a
    trainer actually consumes). The oracle (_oracle_q02) re-derives
    every stage in SQL, including BOTH trained models with the
    train-on-survivors split and the global packing window.
    (The former q02_filter_project's F1/F6/F7 coverage is subsumed by
    q15's LIKE/prefix filters and q38's range predicates — COVERAGE.md.)
    """
    from stop_sync_osm_atlas_spark.plans.corpus import (
        CorpusConfig,
        prepare_corpus,
    )

    while _Q02_LIVE:
        _Q02_LIVE.pop().unpersist()
    d = _t(spark, sf, "documents")
    # exact_fp_prefix=None = the exact full-text fingerprint (the oracle
    # mirrors md5(text_clean) unbounded); the bounded-prefix trade is
    # graded separately by q21's mode='prefix48' arm. The oracle SQL
    # interpolates its thresholds from this same CorpusConfig object.
    decisions, bins = prepare_corpus(d, CorpusConfig(exact_fp_prefix=None))
    _Q02_LIVE.append(decisions)
    nl = F.lit(None).cast("long")
    ns = F.lit(None).cast("string")
    dec_rows = decisions.select(
        F.lit("decision").alias("mode"),
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        "reason",
        "decision",
        F.col("n_tok").cast("long").alias("n_tok"),
        nl.alias("bin"),
        nl.alias("n_docs"),
        nl.alias("total_tokens"),
        nl.alias("first_doc"),
        nl.alias("last_doc"),
    )
    bin_rows = bins.select(
        F.lit("bin").alias("mode"),
        nl.alias("doc_id"),
        "lang",
        ns.alias("reason"),
        ns.alias("decision"),
        nl.alias("n_tok"),
        F.col("bin").cast("long").alias("bin"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
        F.col("first_doc").cast("long").alias("first_doc"),
        F.col("last_doc").cast("long").alias("last_doc"),
    )
    return dec_rows.unionByName(bin_rows)


def q03_join_revenue(spark, sf):
    """J8/J12: join chain with broadcast dim, grouped revenue."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def q04_unique_by_key(spark, sf):
    """J1/post-pass analog: keep pairs whose key group is exactly 1:1
    (reference matching_script.py:346-399 unique-by-UIC post-pass)."""
    o = _t(spark, sf, "orders")
    win = W.partitionBy("o_custkey")
    return (
        o.withColumn("n_orders", F.count("*").over(win))
        .filter(F.col("n_orders") == 1)
        .select("o_custkey", "o_orderkey")
    )


def q05_anti_join(spark, sf):
    """J10/U2: unmatched remainder via left_anti."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


def q06_semi_join(spark, sf):
    """F8/F12: EXISTS as left_semi."""
    c = _t(spark, sf, "customer")
    big = _t(spark, sf, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(big, c.c_custkey == big.o_custkey, "left_semi").select("c_custkey")


def q07_ratio_test(spark, sf):
    """J5/W1: closest + second-closest with ratio gate (the reference's
    unambiguous-nearest rule, distance_matching.py:522-558)."""
    li = _t(spark, sf, "lineitem")
    win = W.partitionBy("l_orderkey").orderBy("l_extendedprice", "l_linenumber")
    ranked = li.select(
        "l_orderkey",
        "l_extendedprice",
        "l_linenumber",
        F.row_number().over(win).alias("rn"),
        F.lead("l_extendedprice").over(win).alias("next_price"),
    ).filter((F.col("rn") == 1) & F.col("next_price").isNotNull())
    return ranked.filter(
        F.col("next_price") / F.col("l_extendedprice") >= 2.0
    ).select(
        "l_orderkey",
        F.round("l_extendedprice", 2).alias("best"),
        F.round("next_price", 2).alias("second"),
    )


def q08_duplicates(spark, sf):
    """A2/Q4: duplicate groups + canonical pointer (duplicate_sloid_map
    analog, matching_script.py:221-242)."""
    p = _t(spark, sf, "part")
    win = W.partitionBy("p_brand", "p_size")
    return (
        p.withColumn("dup_count", F.count("*").over(win))
        .withColumn("canonical_partkey", F.min("p_partkey").over(win))
        .filter(F.col("dup_count") > 1)
        .select(
            "p_partkey",
            "p_brand",
            "p_size",
            "dup_count",
            "canonical_partkey",
            (F.col("p_partkey") == F.col("canonical_partkey")).alias("is_canonical"),
        )
    )


def q09_min_by(spark, sf):
    """A3/W3: best-per-group selection (min by value, deterministic)."""
    o = _t(spark, sf, "orders")
    win = W.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("price"))
    )


def q10_first_last(spark, sf):
    """A4: per-key first/last by sequence (idxmin/idxmax analog,
    get_atlas_data.py:230-251).

    Null-ts rows are excluded in both mirrors: Spark's ASC window puts
    nulls FIRST while DuckDB puts them LAST, so one null-ts event would
    flip first_type between the engines (the q19 null-ordering class)."""
    e = _t(spark, sf, "events").where(F.col("ts").isNotNull())
    asc = W.partitionBy("user_id").orderBy("ts", "event_id")
    desc = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.select(
            "user_id",
            F.first("event_type").over(asc).alias("first_type"),
            F.first("event_type").over(desc).alias("last_type"),
        )
        .distinct()
    )


def q11_distinct_pairs(spark, sf):
    """A5/A7: distinct-triple dedup + count-by-key."""
    e = _t(spark, sf, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"), F.count("*").alias("n")
    )


def q12_conditional_distinct(spark, sf):
    """A9: conditional distinct counts in one pass (stats.py:140-160)."""
    o = _t(spark, sf, "orders")
    return o.agg(
        F.countDistinct(F.when(F.col("o_orderstatus") == "F", F.col("o_custkey"))).alias("n_f_cust"),
        F.countDistinct(F.when(F.col("o_orderstatus") == "O", F.col("o_custkey"))).alias("n_o_cust"),
        F.countDistinct(F.when(F.col("o_totalprice") > 200000, F.col("o_custkey"))).alias("n_big_cust"),
        F.count("*").alias("n_orders"),
    )


def q13_topk(spark, sf):
    """O4/W5: top-k by value with deterministic tiebreak."""
    o = _t(spark, sf, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("price"))
    )


def q14_cascade_resolution(spark, sf):
    """U1/W2: the stage-cascade-without-mutation pattern — union rule
    hits with a priority, first-hit-wins via window (the declarative
    rewrite of the reference's used-set stages, matching_script.py:257-344)."""
    o = _t(spark, sf, "orders")
    s1 = o.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", F.lit("exact").alias("rule"), F.lit(1).alias("prio")
    )
    s2 = o.filter(F.col("o_orderpriority").startswith("1")).select(
        "o_orderkey", F.lit("name").alias("rule"), F.lit(2).alias("prio")
    )
    s3 = o.filter(F.col("o_totalprice") > 250000).select(
        "o_orderkey", F.lit("distance").alias("rule"), F.lit(3).alias("prio")
    )
    allhits = s1.unionByName(s2).unionByName(s3)
    win = W.partitionBy("o_orderkey").orderBy("prio")
    return (
        allhits.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .select("o_orderkey", "rule")
    )


def q15_like_search(spark, sf):
    """F10: OR'ed multi-column LIKE search (search.py:88-103)."""
    p = _t(spark, sf, "part")
    return p.filter(
        F.col("p_name").contains("green")
        | F.lower(F.col("p_type")).contains("brass")
        | F.col("p_brand").startswith("Brand#1")
    ).select("p_partkey", "p_name", "p_brand")


def q16_priority_ladder(spark, sf):
    """X12/Q1: threshold CASE ladder -> severity, grouped stats
    (problem_detection.py:36-64 priority shape)."""
    o = _t(spark, sf, "orders")
    sev = (
        F.when(F.col("o_totalprice") > 300000, 1)
        .when(F.col("o_totalprice") > 150000, 2)
        .when(F.col("o_totalprice") > 50000, 3)
        .otherwise(4)
    )
    return (
        o.withColumn("severity", sev)
        .groupBy("severity")
        .agg(F.count("*").alias("n"), F.round(F.avg("o_totalprice"), 2).alias("avg_price"))
    )


def q17_haversine(spark, sf):
    """X1/X2: haversine as pure column math (utils.py:14-29), over
    synthetic coordinates derived deterministically from keys."""
    c = _t(spark, sf, "customer")
    lat1 = (F.col("c_custkey") % 18000) / 100.0 - 90.0
    lon1 = ((F.col("c_custkey") * 7) % 36000) / 100.0 - 180.0
    lat2, lon2 = F.lit(47.0), F.lit(8.0)
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = F.sin(dlat / 2) ** 2 + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlon / 2) ** 2
    dist_m = 2 * 6371000.0 * F.asin(F.sqrt(a))
    return (
        c.withColumn("dist_m", dist_m)
        .groupBy("c_nationkey")
        .agg(F.round(F.avg("dist_m"), 2).alias("avg_dist_m"), F.count("*").alias("n"))
    )


def q18_normalized_join(spark, sf):
    """X4/J11: equi-join on a regex-normalized computed column
    (route-id normalization analog, route_matching_unified.py:12-16)."""
    p = _t(spark, sf, "part")
    norm = F.regexp_replace(F.col("p_brand"), "[0-9]+", "X")
    parts = p.select("p_partkey", norm.alias("brand_norm"))
    counts = parts.groupBy("brand_norm").agg(F.count("*").alias("n_same"))
    return parts.join(counts, "brand_norm").select("p_partkey", "brand_norm", "n_same")


def q19_sessionize(spark, sf):
    """Sessionization graded on BOTH engines in one union (r5):
    mode='batch' = window-shaped lag + gap cumsum; mode='stream' = the
    custom stateful streaming operator
    (streaming/stream.stream_sessionize, applyInPandasWithState with
    per-user GroupState), replayed over the same events staged to
    parquet and driven to completion — a single trigger consumes every
    staged file, so per-user counts must equal the batch window's
    exactly (the oracle re-derives one CTE and projects it under both
    mode labels). Multi-batch updates, if any, resolve by max(): both
    counters are monotone and updated together.

    Null-ts events are excluded in ALL THREE mirrors (engine filter
    here feeds both arms via the staged copy; WHERE ts IS NOT NULL in
    the oracle; the stateful operator drops NaT rows itself): an event
    without a timestamp cannot be sessionized, and the engines disagree
    on null ordering (Spark orderBy nulls first, pandas NaT last)."""
    e = _t(spark, sf, "events").where(F.col("ts").isNotNull())
    win = W.partitionBy("user_id").orderBy("ts", "event_id")
    # unix_micros, not unix_timestamp: integer-truncated seconds disagree
    # with the stream arm and the oracle's fractional epoch on sub-second
    # gaps at the 1800 s boundary; all three mirrors now compare exact
    # integer microseconds
    # fixtures carry TIMESTAMP_NTZ; session TZ is pinned UTC, so the
    # ltz cast is value-preserving and unix_micros mirrors epoch_us
    ts_us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    gap = ts_us - F.lag(ts_us).over(win)
    marked = e.withColumn(
        "new_sess", F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    )
    batch = (
        marked.groupBy("user_id")
        .agg(
            F.sum("new_sess").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
        .withColumn("mode", F.lit("batch"))
    )

    from stop_sync_osm_atlas_spark.streaming.stream import (
        stage_and_drain,
        stream_sessionize,
    )

    # stage ONLY the three columns the sessionizer reads — the staged
    # parquet copy otherwise carries the props/value payload for nothing
    # (project before the heavy write, guide-of-record rule)
    sink = stage_and_drain(
        spark, e.select("event_id", "ts", "user_id"), stream_sessionize,
        "q19_session_sink", tag=sf,
        output_mode="update",
    )
    stream = (
        sink.groupBy("user_id")
        .agg(
            F.max("n_sessions").alias("n_sessions"),
            F.max("n_events").alias("n_events"),
        )
        .withColumn("mode", F.lit("stream"))
    )
    return batch.unionByName(stream)


def q33_json_path(spark, sf):
    """F11: JSON-path predicate (query_builder.py:95-97 json_search)."""
    e = _t(spark, sf, "events")
    # try_cast: JSON-extracted text is a text feed — under ANSI a plain
    # cast would kill the whole scan on one non-numeric $.k (the oracle
    # uses TRY_CAST, keeping the null-row mirror aligned)
    k = F.get_json_object("props", "$.k").try_cast("int")
    return (
        e.withColumn("k", k)
        .filter(F.col("k") > 50)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.avg("k"), 4).alias("avg_k"))
    )


def q35_grouped_collect(spark, sf):
    """A8: grouped list-collection, deterministically sorted
    (routes-per-sloid rollup analog, import_data_db.py:140-155)."""
    e = _t(spark, sf, "events")
    return (
        e.withColumn("u", F.col("user_id") % 100)
        .groupBy("event_type")
        .agg(
            F.array_join(F.array_sort(F.collect_set("u")), ",").alias("users_mod100")
        )
    )


def q39_pagination(spark, sf):
    """O2+O3: deterministic offset/limit pagination across a
    null-handling sort (reference problems.py:196-266 two-phase
    paginated endpoint, replaced by native offset pushdown; and
    problems.py:198-209 coalesce(distance, sentinel) ordering as
    DESC NULLS LAST with deterministic tiebreak)."""
    e = _t(spark, sf, "events")
    dist = F.when(F.col("event_id") % 500 == 0, F.col("value"))
    return (
        e.select("event_id", F.round(dist, 2).alias("dist"))
        .orderBy(F.desc_nulls_last("dist"), F.asc("event_id"))
        .offset(10)
        .limit(25)
    )


def q43_metrics_cube(spark, sf):
    """CUBE rollup: the multi-dimensional metrics summary a lineage
    dashboard needs (beyond the reference's flat per-type stats,
    stats.py:140-160)."""
    o = _t(spark, sf, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


def q36_name_match(spark, sf):
    """J2: name-index equi-join with candidate-count gate + tie-break
    (reference name_matching.py:6-95 — accept iff exactly 1 candidate,
    else tie-break on a second attribute)."""
    p = _t(spark, sf, "part")
    probe = p.filter(F.col("p_size") <= 2).select("p_type").distinct()
    cand = p.join(probe, "p_type")
    win = W.partitionBy("p_type")
    cand = cand.withColumn("n_cand", F.count("*").over(win)).withColumn(
        "n_tie", F.sum(F.when(F.col("p_brand") == "Brand#11", 1).otherwise(0)).over(win)
    )
    unique = cand.filter(F.col("n_cand") == 1).select(
        "p_type", F.col("p_partkey").alias("matched_partkey"), F.lit("unique").alias("match_via")
    )
    tie = cand.filter(
        (F.col("n_cand") > 1) & (F.col("n_tie") == 1) & (F.col("p_brand") == "Brand#11")
    ).select("p_type", F.col("p_partkey").alias("matched_partkey"), F.lit("tiebreak").alias("match_via"))
    return unique.unionByName(tie)


def q37_token_match(spark, sf):
    """J6/U3: token-intersection join with priority resolution
    (reference route_matching_unified.py:143-314 — explode tokens both
    sides, equi-join, min-priority winner per left row)."""
    d = _t(spark, sf, "documents")
    tok_rows = [
        (w, prio + 1, lang)
        for prio, lang in enumerate(LANGS)
        for w in STOPWORDS[lang]
    ]
    dim = spark.createDataFrame(tok_rows, "token string, prio int, lang string")
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(TX.words(F.col("text")))).alias("token")
    )
    j = toks.join(F.broadcast(dim), "token")
    return j.groupBy("doc_id").agg(
        F.min("prio").alias("best_prio"),
        F.count("*").alias("n_matched_tokens"),
    )


def q38_viewport(spark, sf):
    """F9: two-sided SARGable bbox predicate (reference data.py:82-95:
    primary point in bbox OR (fallback flag AND secondary in bbox))."""
    o = _t(spark, sf, "orders")
    lat1 = (F.col("o_orderkey") % 18000) / 100.0 - 90.0
    lon1 = ((F.col("o_orderkey") * 3) % 36000) / 100.0 - 180.0
    lat2 = (F.col("o_custkey") % 18000) / 100.0 - 90.0
    lon2 = ((F.col("o_custkey") * 3) % 36000) / 100.0 - 180.0
    in1 = lat1.between(10, 40) & lon1.between(100, 170)
    in2 = lat2.between(10, 40) & lon2.between(100, 170)
    return o.filter(in1 | ((F.col("o_orderkey") % 7 == 0) & in2)).select(
        "o_orderkey", F.round(lat1, 2).alias("lat"), F.round(lon1, 2).alias("lon")
    )


# ---------------------------------------------------------------------------
# documents: text analysis / dedup / quality-filter flagship
# ---------------------------------------------------------------------------

def q20_doc_stats(spark, sf):
    """Text-statistic rules as grouped aggregates (token counting,
    symbol ratio, stopword density — SURVEY §2.9 heuristics), plus
    (r4) Gopher-style within-doc line-repetition signals
    (operators/lines.line_stats), (r5) the bullet-start / ellipsis-end
    format fractions riding the same per-form aggregate, and (r5)
    word-n-gram repetition
    signals (operators/lines.ngram_stats: top-2/3-gram and dup-5/10-gram
    character fractions) averaged per lang."""
    from stop_sync_osm_atlas_spark.operators.lines import line_stats, ngram_stats

    d = _t(spark, sf, "documents")
    cap = F.col("text")
    base = d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(TX.n_words(cap)), 4).alias("avg_words"),
        F.round(F.avg(TX.symbol_ratio(cap)), 6).alias("avg_symbol_ratio"),
        F.round(F.avg(TX.stopword_density(cap, ALL_STOPWORDS)), 6).alias("avg_stopword_density"),
        F.sum(TX.token_count_bpe_ish(cap)).alias("total_tokens"),
    )
    rep = (
        line_stats(d)
        .join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.round(F.avg("dup_line_frac"), 6).alias("avg_dup_line_frac"),
            F.round(F.avg("dup_line_char_frac"), 6).alias(
                "avg_dup_line_char_frac"
            ),
            F.round(F.avg("bullet_line_frac"), 6).alias(
                "avg_bullet_line_frac"
            ),
            F.round(F.avg("ellipsis_line_frac"), 6).alias(
                "avg_ellipsis_line_frac"
            ),
        )
    )
    ng = (
        ngram_stats(d, top_ns=(2, 3), dup_ns=(5, 10))
        .join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            *[
                F.round(F.avg(c), 6).alias(f"avg_{c}")
                for c in (
                    "top_2gram_char_frac",
                    "top_3gram_char_frac",
                    "dup_5gram_char_frac",
                    "dup_10gram_char_frac",
                )
            ]
        )
    )
    return base.join(rep, "lang").join(ng, "lang")


def q21_exact_dedup(spark, sf):
    """Exact dedup via md5 fingerprint (operators/dedup.exact_dedup),
    BOTH prefix modes graded in one union: mode='bounded' = the 10k-char
    default (hash cost independent of document length), mode='prefix48'
    = an aggressively short prefix whose documented collision trade is
    OBSERVABLE at the graded fixture (docs sharing their first 48
    normalized chars but diverging later group together — ~24 such
    collisions at sf0.01, zero under the bounded mode)."""
    d = _t(spark, sf, "documents")
    bounded = DD.exact_dedup(d, text_col="text", id_col="doc_id").withColumn(
        "mode", F.lit("bounded")
    )
    short = DD.exact_dedup(
        d, text_col="text", id_col="doc_id", prefix_len=48
    ).withColumn("mode", F.lit("prefix48"))
    return bounded.unionByName(short)


def q22_langid_confusion(spark, sf):
    """Marker-based language ID vs the stored lang column."""
    d = _t(spark, sf, "documents")
    lang, conf = langid_marker_cols(F.col("text"))
    return (
        d.withColumn("pred", lang)
        .groupBy("lang", "pred")
        .agg(F.count("*").alias("n"))
    )


def _derived_pairs(spark, sf):
    """documents -> the mandated pairs shape, deterministically
    (same arithmetic reproduced in the SQL oracle)."""
    d = _t(spark, sf, "documents")
    caption = F.when(
        F.col("doc_id") % 10 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com now"),
        ),
    ).otherwise(F.col("text"))
    return d.select(
        F.format_string("doc:%06d", F.col("doc_id")).alias("image_id"),
        F.lit(None).cast("binary").alias("bytes"),
        F.when(F.col("doc_id") % 89 == 0, F.lit(0)).otherwise(F.lit(64)).cast("int").alias("w"),
        F.lit(64).cast("int").alias("h"),
        F.when(F.col("doc_id") % 97 == 0, F.lit("bmp")).otherwise(F.lit("png")).alias("fmt"),
        caption.alias("caption"),
        # in every third group, the third member flips ONE low-window
        # bit: its bucket differs from the group's, so the driver-graded
        # q24 exercises the cross-bucket multi-probe bridge (cross-group
        # Hamming stays >= 10, within-group <= 1 — checked over the id
        # range; ~11% flip rate keeps the bridge workload realistic
        # rather than all-rows-bridging pathological)
        (
            (F.col("doc_id") / F.lit(3)).cast("long") * F.lit(2654435761)
            + F.lit(12345)
        ).bitwiseXOR(
            F.when(
                F.col("doc_id") % 9 == 2,
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(doc_id % 16 AS INT))"),
            ).otherwise(F.lit(0).cast("long"))
        ).alias("phash"),
        F.col("doc_id"),
    )


def q23_quality_cascade(spark, sf):
    """FLAGSHIP: the full metadata+langid+scrub decision cascade over
    the derived pairs table — the engine's keep/drop/scrub semantics
    with first-hit-wins priority resolution (SURVEY §7.1 contract),
    fully SQL-checkable (near-dup and perplexity join the non-SQL path
    in the pipeline tests)."""
    pairs = _derived_pairs(spark, sf)
    cfg = RuleConfig()
    lang, conf = langid_marker_cols(F.col("caption"))
    scored = (
        pairs.withColumn("lang", lang)
        .withColumn("perplexity", F.lit(None).cast("double"))
        .withColumn("is_cluster_rep", F.lit(True))
    )
    hits = metadata_rule_hits(scored, cfg)
    hits["langid_undetermined"] = F.col("lang") == "und"
    hits["high_perplexity"] = F.lit(False)
    hits["near_duplicate"] = F.lit(False)
    hits["scrub"] = SC.scrub_hit(F.col("caption"))
    hits["pii_only_after_scrub"] = SC.pii_only_hit(F.col("caption"))
    resolved = SC.with_scrub(with_rule_resolution(scored, hits))
    return resolved.select(
        "doc_id",
        "decision",
        "rule",
        "lang",
        F.when(F.col("decision") == "scrub", F.col("caption_scrubbed"))
        .otherwise(F.col("caption"))
        .alias("caption_out"),
    )


def q24_neardup(spark, sf):
    """phash-bucketed near-dup clustering (operators/neardup) over
    planted groups (doc_id // 3) whose third member flips one bucket-
    window bit — the oracle asserts GROUND-TRUTH group clusters, so a
    green row proves the cross-bucket multi-probe bridge recovers
    them."""
    from stop_sync_osm_atlas_spark.operators.neardup import neardup_clusters

    pairs = _derived_pairs(spark, sf)
    return neardup_clusters(pairs, hot_threshold=100000)


def q25_ngram_jaccard(spark, sf):
    """n-gram Jaccard near-dup pairs (operators/dedup), with the
    scale-guard shingle doc-frequency cap (boilerplate shingles shared
    by >50 docs never enter the self-join)."""
    d = _t(spark, sf, "documents")
    return DD.ngram_jaccard_pairs(d, threshold=0.35, n=3, max_shingle_df=50)


def q26_minhash_lsh(spark, sf):
    """MinHash+LSH near-dup candidates (operators/dedup) — md5-anchored,
    so the DuckDB oracle reproduces signatures exactly."""
    d = _t(spark, sf, "documents")
    return DD.minhash_lsh_pairs(d, threshold=0.35, n=3)


def q27_simhash(spark, sf):
    """SimHash fingerprints (operators/dedup.simhash_table)."""
    d = _t(spark, sf, "documents")
    return DD.simhash_table(d)


def q28_scrub_fingerprint(spark, sf):
    """Per-document hygiene pass: regex PII/toxicity scrub
    (operators/scrub) over captions with planted PII, the
    rolling/prefix document fingerprint (functions/text.fingerprint),
    (r4) train/eval DECONTAMINATION — 8-gram overlap of every doc
    against the deterministic eval subset doc_id % 20 == 0
    (operators/dedup.contamination_overlap; eval docs self-overlap at
    1.0 by construction, which the oracle reproduces) — and (r5)
    CROSS-DOCUMENT exact-substring duplication, Lee et al.'s
    ExactSubstr family (operators/dedup.substring_duplication, token
    8-grams in >= 2 distinct docs): per-doc duplicated-gram counts,
    the span-union coverage fraction, and the md5 of BOTH removal
    transforms from ONE gram pass — remove-all (every covered token
    stripped) and (r6) keep-one (each duplicated gram's canonical
    min-(doc_id,pos) occurrence survives, the published ExactSubstr
    semantics) — the oracle re-derives all of them from the same
    md5-60bit gram hashes including the canonical-occurrence
    election."""
    pairs = _derived_pairs(spark, sf)
    d = _t(spark, sf, "documents").select("doc_id", "text")
    scrubbed = pairs.select(
        "doc_id",
        SC.scrubbed_caption(F.col("caption")).alias("caption_scrubbed"),
        SC.scrub_hit(F.col("caption")).alias("was_scrubbed"),
    )
    fp = d.select("doc_id", TX.fingerprint(F.col("text"), 64).alias("fp"))
    contam = DD.contamination_overlap(
        d, d.where(F.col("doc_id") % 20 == 0), n=8
    )
    ss = DD.substring_duplication(
        d, k=8, min_docs=2,
        include_dedup_text=True, include_keep_first_text=True,
    ).select(
        "doc_id",
        "n_grams",
        "n_dup_grams",
        "dup_span_frac",
        F.md5("text_dedup").alias("dedup_fp"),
        F.md5("text_dedup_first").alias("keepfirst_fp"),
    )
    return (
        scrubbed.join(fp, "doc_id").join(contam, "doc_id").join(ss, "doc_id")
    )


# ---------------------------------------------------------------------------
# embeddings: similarity search
# ---------------------------------------------------------------------------

def q30_ann_methods(spark, sf):
    """ANN over the embedding corpus, all three engine methods in one
    graded frame: brute-force exact cosine top-k (the exactness
    baseline; operators/similarity.cosine_topk), hyperplane-LSH
    (lsh_cosine_topk), and IVF with a mini-Lloyd coarse quantizer +
    bucket probe + exact re-rank (ivf_cosine_topk). The oracle unrolls
    each method — including the deterministic IVF training — in SQL."""
    emb = _t(spark, sf, "embeddings")
    embd = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    qd = embd.filter(F.col("vec_id") < 5)
    qr = emb.filter(F.col("vec_id") < 5)
    brute = SIM.cosine_topk(embd, qd, k=5).withColumn("method", F.lit("brute"))
    lsh = SIM.lsh_cosine_topk(emb, qr, k=5, dim=64).withColumn(
        "method", F.lit("lsh")
    )
    ivf = SIM.ivf_cosine_topk(
        emb, qr, k=5, n_centroids=16, n_probe=4, n_iters=2
    ).withColumn("method", F.lit("ivf"))
    cols = ["method", "q_id", "c_id", "cos_sim", "rank"]
    return (
        brute.select(cols)
        .unionByName(lsh.select(cols))
        .unionByName(ivf.select(cols))
    )


def q40_embedding_neardup(spark, sf):
    """Embedding-cosine near-duplicate pairs (dedup family, exact
    baseline; operators/similarity.cosine_pairs)."""
    emb = _t(spark, sf, "embeddings")
    return SIM.cosine_pairs(emb, threshold=0.45)


def q44_banded_cosine_pairs(spark, sf):
    """Banded hyperplane-LSH embedding near-dup pairs — the scale path
    for which q40's brute-force cosine_pairs is the exactness baseline
    (operators/similarity.cosine_neardup_pairs)."""
    emb = _t(spark, sf, "embeddings")
    return SIM.cosine_neardup_pairs(
        emb, threshold=0.45, dim=64, n_planes=32, n_bands=8
    )


def q45_hash_sample(spark, sf):
    """Deterministic sampling, BOTH modes graded (O5; reference
    backend/services/search.py:192-206 random.sample made replayable):
    mode='uniform' = flat md5-bucket rate; mode='mixture' = domain
    mixture sampling (operators/sampling.mixture_sample) with r5's
    EPOCH UPWEIGHTING — per-lang rates hit a 25/20/20/35 en/de/fr/zh
    token mixture under a 40k-token budget with max_epochs=3, so at the
    graded sf0.01 the under-budget domains replicate (zh caps at 3
    epochs, de/fr land ~2 full epochs + an md5-bucket fraction, en
    stays sub-1) while 'es' is deliberately unlisted -> rate 0. The
    oracle re-derives floor(rate) and the fractional bucket threshold
    bit-exactly and replays the replication via range-unnest."""
    from stop_sync_osm_atlas_spark.operators.sampling import (
        hash_sample,
        mixture_sample,
    )

    d = _t(spark, sf, "documents")
    uni = (
        hash_sample(d, rate_buckets=100, n_buckets=1000)
        .select("doc_id", "lang")
        .withColumn("mode", F.lit("uniform"))
        .withColumn("epoch", F.lit(0).cast("long"))
    )
    mix = (
        mixture_sample(
            d,
            weights={"en": 0.25, "de": 0.2, "fr": 0.2, "zh": 0.35},
            budget_tokens=40_000,
            token_col=TX.token_count_bpe_ish(F.col("text")),
            max_epochs=3,
        )
        .select("doc_id", "lang", "epoch")
        .withColumn("mode", F.lit("mixture"))
    )
    return uni.unionByName(mix)


def q46_strict_merge(spark, sf):
    """Strict merge with tiered fallbacks (J7; reference
    get_atlas_data.py:488-576 match_gtfs_to_atlas): strict equi ->
    unique-by-key -> suffix-token, one tier-labeled union
    (operators/merge.strict_merge_with_fallbacks)."""
    from stop_sync_osm_atlas_spark.operators.merge import strict_merge_with_fallbacks

    o = _t(spark, sf, "orders")
    p = _t(spark, sf, "part")
    probe = o.select(
        F.col("o_orderkey").alias("probe_id"),
        F.concat(
            F.lit("Brand#"),
            (F.lit(1) + F.col("o_orderkey") % 5).cast("string"),
            (F.lit(1) + F.col("o_custkey") % 5).cast("string"),
        ).alias("k1"),
        (F.col("o_orderkey") % 50).cast("string").alias("k2"),
    )
    build = p.where(F.col("p_size") <= 2).select(
        F.concat(
            F.lit("p:"),
            F.col("p_brand"),
            F.lit(":"),
            F.col("p_partkey").cast("string"),
            F.lit(":"),
            (F.col("p_partkey") % 50).cast("string"),
        ).alias("build_id"),
        F.col("p_brand").alias("k1"),
        # designation differs from the id's last token (%40 vs %50) so
        # the suffix-token fallback has pairs the strict tier misses
        (F.col("p_partkey") % 40).cast("string").alias("k2"),
    )
    return strict_merge_with_fallbacks(probe, build)


def q53_stream_dedup(spark, sf):
    """ALL THREE stateless/stateful streaming ops graded for BATCH
    EQUIVALENCE in one union over ONE staged copy of the derived pairs
    (streaming/stream.stage_and_drain_many):

    mode='dedup'    — stream_exact_dedup (dropDuplicatesWithinWatermark
                      keyed by the md5 content fingerprint): the
                      surviving fingerprint SET must equal the batch
                      dedup's distinct fingerprints (the winner row per
                      fingerprint depends on arrival order, so the set
                      is the deterministic contract).
    mode='decision' — stream_decisions (the stateless rule cascade over
                      readStream): per-image decision must equal the
                      batch ladder's (the q23 oracle re-derived with
                      near-dup/perplexity off, exactly the streaming
                      semantics).
    mode='metrics'  — stream_metrics (WATERMARKED tumbling-window
                      keep/drop/scrub counts, drained in complete
                      mode): the window boundaries ride processing
                      time, so the deterministic contract is the
                      cross-window SUM per decision == the batch
                      ladder's decision counts."""
    from stop_sync_osm_atlas_spark.streaming.stream import (
        stage_and_drain_many,
        stream_decisions,
        stream_exact_dedup,
        stream_metrics,
    )

    pairs = _derived_pairs(spark, sf).select(
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash"
    )
    # staging path / cleanup contract (per-process determinism,
    # concurrent-driver isolation, exception safety): stage_and_drain_many;
    # the parquet staging write runs ONCE for the three streams
    sinks = stage_and_drain_many(
        spark,
        pairs,
        [
            (stream_exact_dedup, "q53_dedup_sink", "append"),
            (stream_decisions, "q53_decision_sink", "append"),
            (stream_metrics, "q53_metrics_sink", "complete"),
        ],
        tag=sf,
    )
    ns = F.lit(None).cast("string")
    nl = F.lit(None).cast("long")
    dedup = sinks["q53_dedup_sink"].select("fp").distinct().select(
        F.lit("dedup").alias("mode"), "fp", ns.alias("decision"), nl.alias("n")
    )
    decisions = sinks["q53_decision_sink"].select(
        F.lit("decision").alias("mode"),
        F.col("image_id").alias("fp"),
        "decision",
        nl.alias("n"),
    )
    metrics = (
        sinks["q53_metrics_sink"]
        .groupBy("decision")
        .agg(F.sum("n").cast("long").alias("n"))
        .select(F.lit("metrics").alias("mode"), ns.alias("fp"), "decision", "n")
    )
    return dedup.unionByName(decisions).unionByName(metrics)


def q54_neardup_bands(spark, sf):
    """Near-dup clustering with the full-recall 'bands' bridge
    (operators/neardup, bridge='bands': upper-band self-joins discover
    EVERY cross-bucket pair within radius <= 3 by pigeonhole) over the
    same planted ground-truth groups as q24 — a green row proves the
    bands path reproduces the ground truth end-to-end."""
    from stop_sync_osm_atlas_spark.operators.neardup import neardup_clusters

    pairs = _derived_pairs(spark, sf)
    return neardup_clusters(pairs, hot_threshold=100000, bridge="bands")


def q50_sequence_pack(spark, sf):
    """Training-batch sequence packing, BOTH execution paths graded
    (operators/packing.pack_bins): mode='global' = one window per lang
    (exclusive-prefix token sum); mode='sharded' = the low-cardinality-
    key salting path (4 shards, dense per-lang bin renumbering via the
    cumulative shard-offset broadcast). The shard key is a planted
    pmod(doc_id, 4) — engine-portable, so the SQL oracle reproduces the
    sharded renumbering exactly."""
    from stop_sync_osm_atlas_spark.operators.packing import pack_bins

    d = _t(spark, sf, "documents")
    tok = TX.token_count_bpe_ish(F.col("text"))
    glob = pack_bins(
        d, tok, budget=512, part_col="lang", order_col="doc_id"
    ).withColumn("mode", F.lit("global"))
    sharded = pack_bins(
        d,
        tok,
        budget=512,
        part_col="lang",
        order_col="doc_id",
        shards=4,
        shard_col=F.pmod(F.col("doc_id"), F.lit(4)),
    ).withColumn("mode", F.lit("sharded"))
    return glob.unionByName(sharded)


def q51_embedding_quantize(spark, sf):
    """Symmetric int8 embedding quantization stats (scale + L2
    reconstruction error; operators/similarity.quantize_embeddings)."""
    emb = _t(spark, sf, "embeddings")
    return SIM.quantize_embeddings(emb)


def q52_tfidf_keywords(spark, sf):
    """Per-doc top-3 TF-IDF keywords (operators/keywords.tfidf_topk):
    pure-Catalyst explode + two aggs + window, ties on the term."""
    from stop_sync_osm_atlas_spark.operators.keywords import tfidf_topk

    d = _t(spark, sf, "documents")
    return tfidf_topk(d, k=3)


def q48_model_cascade(spark, sf):
    """Model-path cascade graded END-TO-END: the NB langid and char-
    bigram perplexity pandas-UDF signals feed a priority ladder
    (empty -> too_short -> high_perplexity -> langid_mismatch -> keep);
    the oracle re-derives BOTH trained models in SQL (_oracle_q48).
    langid_mismatch is a label-noise detector: the synthetic corpus
    carries intentionally noisy lang tags over English-ish text, so it
    correctly fires on ~half the rows (NB avg conf 0.94 on flags).
    Both models train in ONE fused corpus pass (one scan + one bounded
    collect — functions/training.py) instead of two sequential jobs.
    Pipeline analog: operators/cascade.run_cascade(langid_udf=...,
    perplexity_udf=...)."""
    from stop_sync_osm_atlas_spark.functions.langid import langid_hashed_ngram_udf
    from stop_sync_osm_atlas_spark.functions.perplexity import perplexity_udf
    from stop_sync_osm_atlas_spark.functions.training import train_models_fused

    d = _t(spark, sf, "documents")
    lid_model, bigram = train_models_fused(d)
    lid = langid_hashed_ngram_udf(lid_model)
    ppl_udf = perplexity_udf(bigram)
    cap = F.col("text")
    scored = (
        d.withColumn("_lid", lid(cap))
        .withColumn("ppl", F.round(ppl_udf(cap), 4))
        .withColumn("pred_lang", F.col("_lid.lang"))
        .withColumn("nw", TX.n_words(cap))
    )
    rule = (
        F.when(TX.is_blank(cap), F.lit("empty_caption"))
        .when(F.col("nw") < 5, F.lit("caption_too_short"))
        .when(F.col("ppl") > 6.0, F.lit("high_perplexity"))
        .when(F.col("pred_lang") != F.col("lang"), F.lit("langid_mismatch"))
        .otherwise(F.lit("keep"))
    )
    return scored.withColumn("rule", rule).select(
        "doc_id",
        "pred_lang",
        "ppl",
        "rule",
        F.when(F.col("rule") == "keep", F.lit("keep"))
        .otherwise(F.lit("drop"))
        .alias("decision"),
    )


def q41_perplexity_model(spark, sf):
    """KenLM-style char-bigram perplexity (Arrow pandas UDF), model
    trained deterministically from the corpus itself. The DuckDB oracle
    re-derives the full train+score pipeline in SQL (_oracle_q41)."""
    from stop_sync_osm_atlas_spark.functions.perplexity import perplexity_udf
    from stop_sync_osm_atlas_spark.functions.training import train_char_bigram_distributed

    d = _t(spark, sf, "documents")
    udf = perplexity_udf(train_char_bigram_distributed(d))
    return d.select("doc_id", F.round(udf(F.col("text")), 4).alias("ppl"))


def q42_langid_nb(spark, sf):
    """fastText-style hashed-ngram NB language ID (Arrow pandas UDF),
    trained from the corpus's own (text, lang) pairs. The DuckDB oracle
    re-derives FNV-1a hashing, NB training and softmax in SQL
    (_oracle_q42)."""
    from stop_sync_osm_atlas_spark.functions.langid import langid_hashed_ngram_udf
    from stop_sync_osm_atlas_spark.functions.training import train_langid_model_distributed

    d = _t(spark, sf, "documents")
    model = train_langid_model_distributed(d)
    udf = langid_hashed_ngram_udf(model)
    return d.withColumn("pred", udf(F.col("text"))).select(
        "doc_id", "lang", F.col("pred.lang").alias("pred_lang"),
        F.round(F.col("pred.conf"), 4).alias("conf"),
    )


def q31_embedding_stats(spark, sf):
    """Vector norms as Catalyst fold (no UDF), grouped."""
    emb = _t(spark, sf, "embeddings")
    norm = SIM.l2norm(F.col("embedding").cast("array<double>"))
    return emb.groupBy("label").agg(
        F.count("*").alias("n"), F.round(F.avg(norm), 6).alias("avg_norm")
    )


def q32_hourly_rollup(spark, sf):
    """Time-window rollup (streaming-shaped agg, batch edition)."""
    e = _t(spark, sf, "events")
    return (
        e.withColumn("hour", F.date_trunc("hour", F.col("ts")))
        .groupBy("hour", "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


# ---------------------------------------------------------------------------
# oracle SQL
# ---------------------------------------------------------------------------

def _oracle_q23() -> str:
    words = _sql_words("caption")
    nw = f"len({words})"
    rep = f"CASE WHEN {nw} > 0 THEN 1.0 - len(list_distinct({words})) * 1.0 / {nw} ELSE 0.0 END"
    sym = _sql_symbol_ratio("caption")
    swd = (
        f"CASE WHEN {nw} > 0 THEN len(list_filter({words}, x -> "
        f"list_contains({_sql_list(ALL_STOPWORDS)}, x))) * 1.0 / {nw} ELSE 0.0 END"
    )
    lang_case, lang_selects = _sql_langid(f"(w)")
    scrub = _sql_scrub("caption")
    residue = (
        f"trim(regexp_replace({scrub}, '<EMAIL>|<URL>|<PHONE>|<ID>|<TOX>', '', 'g'), {_WS})"
    )
    cfg = RuleConfig()
    return f"""
WITH pairs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0
              THEN text || ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com now'
              ELSE text END AS caption,
         CASE WHEN doc_id % 89 = 0 THEN 0 ELSE 64 END AS w,
         64 AS h,
         CASE WHEN doc_id % 97 = 0 THEN 'bmp' ELSE 'png' END AS fmt
  FROM documents
), feat AS (
  SELECT doc_id, caption, w, h, fmt,
         {words} AS w_arr,
         {nw} AS nw,
         {rep} AS rep,
         {sym} AS sym,
         {swd} AS swd,
         {scrub} AS scrubbed,
         {residue} AS residue
  FROM pairs
), lid AS (
  SELECT *, {lang_selects.replace('(w)', 'w_arr')} FROM feat
), hits AS (
  SELECT *,
    (w IS NULL OR h IS NULL OR w <= 0 OR h <= 0 OR fmt IS NULL OR fmt NOT IN ('png','jpeg')) AS h_corrupt,
    (caption IS NULL OR trim(caption, {_WS}) = '') AS h_empty,
    (nw < {cfg.min_words}) AS h_short,
    (nw > {cfg.max_words}) AS h_long,
    (rep >= {cfg.max_repetition}) AS h_rep,
    (sym >= {cfg.max_symbol_ratio}) AS h_sym,
    (nw >= {cfg.stopword_rule_min_words} AND swd < {cfg.min_stopword_density}) AS h_lowstop,
    (caption IS NOT NULL AND trim(caption, {_WS}) <> '' AND residue = '') AS h_piionly,
    ({lang_case.replace('(w)', 'w_arr')} = 'und') AS h_und,
    (scrubbed <> caption) AS h_scrub,
    {lang_case.replace('(w)', 'w_arr')} AS lang
  FROM lid
), resolved AS (
  SELECT doc_id, lang, caption, scrubbed,
    CASE
      WHEN h_corrupt THEN 'corrupt_image'
      WHEN h_empty THEN 'empty_caption'
      WHEN h_short THEN 'caption_too_short'
      WHEN h_long THEN 'caption_too_long'
      WHEN h_rep THEN 'repetition'
      WHEN h_sym THEN 'symbol_ratio'
      WHEN h_lowstop THEN 'low_stopword_density'
      WHEN h_piionly THEN 'pii_only_after_scrub'
      WHEN h_und THEN 'langid_undetermined'
      WHEN h_scrub THEN 'scrub'
      ELSE 'keep'
    END AS rule
  FROM hits
)
SELECT doc_id, rule,
  CASE rule WHEN 'keep' THEN 'keep' WHEN 'scrub' THEN 'scrub' ELSE 'drop' END AS decision,
  lang,
  CASE WHEN rule = 'scrub' THEN scrubbed ELSE caption END AS caption_out
FROM resolved
"""


def _oracle_q20() -> str:
    words = _sql_words("text")
    nw = f"len({words})"
    sym = _sql_symbol_ratio("text")
    swd = (
        f"CASE WHEN {nw} > 0 THEN len(list_filter({words}, x -> "
        f"list_contains({_sql_list(ALL_STOPWORDS)}, x))) * 1.0 / {nw} ELSE 0.0 END"
    )
    tok = "len(regexp_extract_all(coalesce(text,''), '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0b\\x0c\\r]'))"
    return f"""
WITH base AS (
  SELECT lang,
    count(*) AS n_docs,
    round(avg({nw}), 4) AS avg_words,
    round(avg({sym}), 6) AS avg_symbol_ratio,
    round(avg({swd}), 6) AS avg_stopword_density,
    CAST(sum({tok}) AS BIGINT) AS total_tokens
  FROM documents GROUP BY lang
),
ls_form AS (
  SELECT doc_id, form, count(*) AS c, length(form) AS len
  FROM (
    SELECT doc_id, lower(trim(line, {_WS})) AS form
    FROM (SELECT doc_id, unnest(string_split(coalesce(text, ''), chr(10))) AS line
          FROM documents)
  ) WHERE form <> ''
  GROUP BY doc_id, form
),
ls_doc AS (
  SELECT doc_id, sum(c) AS n_lines, sum(c) - count(*) AS dups,
    sum(c * len) AS chars, sum((c - 1) * len) AS dup_chars,
    {_sql_line_format_sums()}
  FROM ls_form GROUP BY doc_id
),
ls AS (
  SELECT d.doc_id, d.lang,
    round(coalesce(l.dups * 1.0 / l.n_lines, 0.0), 6) AS dup_line_frac,
    round(coalesce(l.dup_chars * 1.0 / l.chars, 0.0), 6) AS dup_line_char_frac,
    round(coalesce(l.bullets * 1.0 / l.n_lines, 0.0), 6) AS bullet_line_frac,
    round(coalesce(l.ellipses * 1.0 / l.n_lines, 0.0), 6) AS ellipsis_line_frac
  FROM documents d LEFT JOIN ls_doc l USING (doc_id)
),
rep AS (
  SELECT lang,
    round(avg(dup_line_frac), 6) AS avg_dup_line_frac,
    round(avg(dup_line_char_frac), 6) AS avg_dup_line_char_frac,
    round(avg(bullet_line_frac), 6) AS avg_bullet_line_frac,
    round(avg(ellipsis_line_frac), 6) AS avg_ellipsis_line_frac
  FROM ls GROUP BY lang
),
{_ngram_ctes('documents', (2, 3), (5, 10))[0]},
ngl AS (
  SELECT d.lang,
    round(avg(top_2gram_char_frac), 6) AS avg_top_2gram_char_frac,
    round(avg(top_3gram_char_frac), 6) AS avg_top_3gram_char_frac,
    round(avg(dup_5gram_char_frac), 6) AS avg_dup_5gram_char_frac,
    round(avg(dup_10gram_char_frac), 6) AS avg_dup_10gram_char_frac
  FROM ng JOIN documents d USING (doc_id) GROUP BY d.lang
)
SELECT base.*, rep.avg_dup_line_frac, rep.avg_dup_line_char_frac,
  rep.avg_bullet_line_frac, rep.avg_ellipsis_line_frac,
  ngl.avg_top_2gram_char_frac, ngl.avg_top_3gram_char_frac,
  ngl.avg_dup_5gram_char_frac, ngl.avg_dup_10gram_char_frac
FROM base JOIN rep USING (lang) JOIN ngl USING (lang)
"""


def _oracle_q22() -> str:
    words = _sql_words("text")
    lang_case, lang_selects = _sql_langid("w_arr")
    return f"""
WITH feat AS (SELECT lang, {words} AS w_arr FROM documents),
lid AS (SELECT lang, {lang_selects} FROM feat)
SELECT lang, {lang_case} AS pred, count(*) AS n FROM lid GROUP BY lang, pred
"""


def _oracle_q49() -> str:
    """IVF ANN fully unrolled in SQL: init = 16 lowest-id vectors, two
    Lloyd steps (assign by euclidean, tie on cid; per-dimension avg;
    emptied clusters keep the previous centroid), final inverted index,
    4-probe query, exact-cosine top-5 re-rank."""
    dim, n_cent, n_probe, k = 64, 16, 4, 5

    def assign(cname: str, aname: str) -> str:
        return f"""{aname} AS (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
      row_number() OVER (
        PARTITION BY e.vec_id ORDER BY list_distance(e.v, c.v), c.cid
      ) AS rn
    FROM e CROSS JOIN {cname} c
  ) WHERE rn = 1
)"""

    def update(aname: str, cprev: str, cname: str) -> str:
        return f"""{cname}_m AS (
  SELECT cid, u.i, avg(v[u.i]) AS m
  FROM {aname}, (SELECT unnest(range(1, {dim + 1})) AS i) u
  GROUP BY cid, u.i
), {cname}_g AS (
  SELECT cid, list(m ORDER BY i) AS v FROM {cname}_m GROUP BY cid
), {cname} AS (
  SELECT p.cid, coalesce(g.v, p.v) AS v
  FROM {cprev} p LEFT JOIN {cname}_g g USING (cid)
)"""

    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v
  FROM e ORDER BY vec_id LIMIT {n_cent}
),
{assign('c0', 'a1')},
{update('a1', 'c0', 'c1')},
{assign('c1', 'a2')},
{update('a2', 'c1', 'c2')},
{assign('c2', 'a3')},
qp AS (
  SELECT q_id, qv, cid FROM (
    SELECT q.vec_id AS q_id, q.v AS qv, c.cid,
      row_number() OVER (
        PARTITION BY q.vec_id ORDER BY list_distance(q.v, c.v), c.cid
      ) AS rn
    FROM e q CROSS JOIN c2 c WHERE q.vec_id < 5
  ) WHERE rn <= {n_probe}
),
cands AS (
  SELECT qp.q_id, qp.qv, a3.vec_id AS c_id, a3.v AS cv
  FROM qp JOIN a3 ON a3.cid = qp.cid AND a3.vec_id <> qp.q_id
),
scored AS (
  SELECT q_id, c_id,
    round(list_dot_product(qv, cv) /
      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cos_sim
  FROM cands
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id ASC) AS rank
  FROM scored
)
SELECT q_id, c_id, cos_sim, rank FROM ranked WHERE rank <= {k}
"""


def _oracle_q44() -> str:
    """Banded hyperplane pairs: identical plane literals, 32-bit sketch,
    8x4-bit band keys and exact-cosine filter as cosine_neardup_pairs."""
    planes = SIM._hyperplanes(dim=64, n_planes=32, seed=7)
    plane_lits = [
        "[" + ", ".join(repr(float(x)) for x in p) + "]" for p in planes
    ]
    sketch = " | ".join(
        f"(CASE WHEN list_dot_product(v, {plane_lits[p]}) > 0 "
        f"THEN (CAST(1 AS BIGINT) << {p}) ELSE 0 END)"
        for p in range(32)
    )
    band_structs = ", ".join(
        "{'band': %d, 'key': (sketch >> %d) & 15}" % (b, b * 4) for b in range(8)
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sk AS (SELECT vec_id, v, ({sketch}) AS sketch FROM e),
bands AS (SELECT vec_id, v, unnest([{band_structs}]) AS bk FROM sk),
cands AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id, a.v AS av, b.v AS bv
  FROM bands a JOIN bands b ON a.bk = b.bk AND a.vec_id < b.vec_id
)
SELECT a_id, b_id,
  round(list_dot_product(av, bv) /
    (sqrt(list_dot_product(av, av)) * sqrt(list_dot_product(bv, bv))), 6) AS cos_sim
FROM cands
WHERE round(list_dot_product(av, bv) /
    (sqrt(list_dot_product(av, av)) * sqrt(list_dot_product(bv, bv))), 6) >= 0.45
"""


# Shared CTE blocks: full SQL re-derivations of the two trained models
# (used by q41, q42, the q48 model cascade, and — with a train/score
# split — the q02 composed corpus pipeline). Double arithmetic on both
# sides makes round-4 scores hash-identical to the pandas UDFs.

# char-bigram perplexity (functions/perplexity.py): V=97 symbols
# (printable ASCII 32..126, OOV 95, BOS 96), first 512 chars, add-one.
# ``score`` = relation whose docs get a ppl; ``train`` = relation whose
# docs feed the bigram counts (a subset of score in the corpus
# pipeline, where models train on the post-dedup survivors only).
def _ppl_ctes_for(score: str = "documents", train: str = "documents") -> str:
    trainj = "" if train == score else f" JOIN {train} USING (doc_id)"
    return f"""enc AS (
  SELECT doc_id, i,
    lag(sym, 1, 96) OVER (PARTITION BY doc_id ORDER BY i) AS prev, sym AS cur
  FROM (
    SELECT doc_id, i,
      CASE WHEN cp BETWEEN 32 AND 126 THEN cp - 32
           WHEN cp > 127 THEN 31
           ELSE 95 END AS sym
    FROM (
      SELECT doc_id, unnest(range(1, len(t)+1)) AS i, t
      FROM (SELECT doc_id, substr(coalesce(text,''), 1, 512) AS t FROM {score})
    ), LATERAL (SELECT unicode(substr(t, CAST(i AS INT), 1)) AS cp)
  )
),
counts AS (SELECT prev, cur, count(*) AS n FROM enc{trainj} GROUP BY prev, cur),
row_tot AS (SELECT prev, sum(n) AS tot FROM counts GROUP BY prev),
ppl_scored AS (
  SELECT e.doc_id,
    round(exp(-sum(ln((coalesce(c.n, 0) + 1.0) / (coalesce(rt.tot, 0) + 97.0)))
              / count(*)), 4) AS ppl
  FROM enc e
  LEFT JOIN counts c ON c.prev = e.prev AND c.cur = e.cur
  LEFT JOIN row_tot rt ON rt.prev = e.prev
  GROUP BY e.doc_id
)"""


_PPL_CTES = _ppl_ctes_for()

# hashed-ngram NB language model (functions/langid.py): char 1..3-grams
# over '^'+lower(strip(text[:512]))+'$', FNV-1a-32 mod 2048 feature
# hashing (list_reduce over UTF-8 bytes; corpus is ASCII so
# unicode(char) == byte), add-one multinomial NB with doc-count+1
# priors, softmax confidence, empty-text -> ('und', 0.0).
_WS = "' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)"


def _nb_ctes_for(score: str = "documents", train: str = "documents") -> str:
    return f"""prep AS (
  SELECT doc_id, lang,
    trim(coalesce(text, ''), {_WS}) <> '' AS nonempty,
    '^' || trim(lower(substr(coalesce(text,''), 1, 512)), {_WS}) || '$' AS s
  FROM {score}
),
grams AS (
  SELECT doc_id,
    unnest(flatten([[substr(s, CAST(i AS INT), n) for i in range(1, len(s)-n+2)] for n in [1,2,3]])) AS g
  FROM prep WHERE nonempty
),
gh AS (
  SELECT g,
    CAST(list_reduce(
      list_prepend(CAST(2166136261 AS BIGINT),
        [unicode(substr(g, CAST(j AS INT), 1)) for j in range(1, len(g)+1)]),
      (h, b) -> (xor(h, b) * 16777619) % 4294967296) % 2048 AS INT) AS dim
  FROM (SELECT DISTINCT g FROM grams)
),
feat AS (
  SELECT doc_id, dim, CAST(count(*) AS DOUBLE) AS x
  FROM grams JOIN gh USING (g) GROUP BY doc_id, dim
),
langs AS (SELECT lang, count(*) AS n_docs FROM {train} GROUP BY lang),
prior AS (
  SELECT lang, ln((n_docs + 1.0) / (SELECT sum(n_docs + 1.0) FROM langs)) AS lp
  FROM langs
),
cls AS (
  SELECT d.lang, f.dim, sum(f.x) AS n
  FROM feat f JOIN {train} d USING (doc_id) GROUP BY d.lang, f.dim
),
cls_tot AS (
  SELECT l.lang, 2048.0 + coalesce(sum(c.n), 0) AS tot
  FROM langs l LEFT JOIN cls c USING (lang) GROUP BY l.lang
),
logits AS (
  SELECT f.doc_id, l.lang AS cand,
    sum(f.x * ln((coalesce(c.n, 0) + 1.0) / t.tot)) AS dot
  FROM feat f
  CROSS JOIN langs l
  LEFT JOIN cls c ON c.lang = l.lang AND c.dim = f.dim
  JOIN cls_tot t ON t.lang = l.lang
  GROUP BY f.doc_id, l.lang
),
shifted AS (
  SELECT doc_id, cand, logit,
    exp(logit - max(logit) OVER (PARTITION BY doc_id)) AS e
  FROM (SELECT g.doc_id, g.cand, g.dot + pr.lp AS logit
        FROM logits g JOIN prior pr ON pr.lang = g.cand)
),
scored AS (
  SELECT doc_id, cand,
    e / sum(e) OVER (PARTITION BY doc_id) AS p,
    row_number() OVER (PARTITION BY doc_id ORDER BY logit DESC, cand ASC) AS rk
  FROM shifted
),
best AS (SELECT doc_id, cand, p FROM scored WHERE rk = 1)"""


_NB_CTES = _nb_ctes_for()


def _oracle_q41() -> str:
    return f"""
WITH {_PPL_CTES}
SELECT d.doc_id, s.ppl
FROM documents d LEFT JOIN ppl_scored s USING (doc_id)
"""


def _oracle_q42() -> str:
    return f"""
WITH {_NB_CTES}
SELECT d.doc_id, d.lang,
  CASE WHEN p.nonempty THEN b.cand ELSE 'und' END AS pred_lang,
  CASE WHEN p.nonempty THEN round(b.p, 4) ELSE 0.0 END AS conf
FROM documents d
JOIN prep p USING (doc_id)
LEFT JOIN best b USING (doc_id)
"""


def _oracle_q48() -> str:
    """Model-path cascade: both trained-model CTE blocks composed with
    the rule CASE ladder (empty -> too_short -> high_perplexity ->
    langid_mismatch -> keep), all re-derived in SQL."""
    words = _sql_words("text")
    return f"""
WITH {_PPL_CTES},
{_NB_CTES},
sig AS (
  SELECT d.doc_id, d.lang,
    d.text IS NULL OR trim(d.text, {_WS}) = '' AS h_empty,
    len({words}) < 5 AS h_short,
    s.ppl,
    CASE WHEN p.nonempty THEN b.cand ELSE 'und' END AS pred_lang
  FROM documents d
  JOIN prep p USING (doc_id)
  LEFT JOIN ppl_scored s USING (doc_id)
  LEFT JOIN best b USING (doc_id)
)
SELECT doc_id, pred_lang, ppl,
  CASE WHEN h_empty THEN 'empty_caption'
       WHEN h_short THEN 'caption_too_short'
       WHEN ppl > 6.0 THEN 'high_perplexity'
       WHEN pred_lang <> lang THEN 'langid_mismatch'
       ELSE 'keep' END AS rule,
  CASE WHEN h_empty OR h_short OR ppl > 6.0 OR pred_lang <> lang
       THEN 'drop' ELSE 'keep' END AS decision
FROM sig
"""


def _minhash_pair_ctes(src: str, threshold: float) -> tuple[str, str]:
    """(CTE block, per-pair agreement predicate) re-deriving
    operators/dedup.minhash_lsh_pairs over relation ``src`` (doc_id,
    text): md5-anchored hash family, 16-hash signature, 4x4 bands."""
    words = _sql_words("text")
    n = 3
    shingles = (
        f"list_distinct(list_transform(range(1, greatest(len({words}) - {n - 1}, 0) + 1), "
        f"i -> list_aggregate(list_slice({words}, i, i + {n - 1}), 'string_agg', ' ')))"
    )
    hashes = (
        f"list_transform({shingles}, s -> "
        f"CAST(('0x' || substr(md5(s), 1, 7)) AS BIGINT))"
    )
    sig_exprs = ", ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {DD.MINHASH_PRIME})) AS s{k}"
        for k, (a, b) in enumerate(DD.MINHASH_COEFFS)
    )
    n_bands = len(DD.MINHASH_COEFFS) // DD.LSH_BAND_ROWS
    band_structs = ", ".join(
        "{'band': %d, 'key': %s}"
        % (
            bi,
            " || ',' || ".join(
                f"CAST(s{bi * DD.LSH_BAND_ROWS + r} AS VARCHAR)"
                for r in range(DD.LSH_BAND_ROWS)
            ),
        )
        for bi in range(n_bands)
    )
    agree = " + ".join(
        f"CASE WHEN a.s{k} = b.s{k} THEN 1 ELSE 0 END"
        for k in range(len(DD.MINHASH_COEFFS))
    )
    block = f"""mh_sh AS (
  SELECT doc_id AS id, {hashes} AS hs FROM {src}
  WHERE len({words}) >= {n}
), mh_sig AS (
  SELECT id, {sig_exprs} FROM mh_sh WHERE len(hs) > 0
), mh_bands AS (
  SELECT id, mh_sig.*, unnest([{band_structs}]) AS bk FROM mh_sig
), mh_cands AS (
  SELECT DISTINCT a.id AS a_id, b.id AS b_id
  FROM mh_bands a JOIN mh_bands b ON a.bk = b.bk AND a.id < b.id
), mh_pairs AS (
  SELECT c.a_id, c.b_id
  FROM mh_cands c JOIN mh_sig a ON c.a_id = a.id JOIN mh_sig b ON c.b_id = b.id
  WHERE ({agree}) * 1.0 / {len(DD.MINHASH_COEFFS)} >= {threshold}
)"""
    return block, agree


def _oracle_q02() -> str:
    """The composed corpus-prep pipeline (plans/corpus.prepare_corpus)
    re-derived stage by stage in SQL: C4-style line cleaning
    (operators/lines.clean_lines, max_line_df=2) -> exact dedup on the
    cleaned text (md5, min doc_id survives) -> MinHash-LSH near-dedup
    over the survivors (threshold 0.5; pair losers = larger doc_id) ->
    Gopher line gates (line_stats fracs over the RAW lines: >0.30 dup
    lines or >0.20 dup chars; >0.90 bullet-start; >0.30 ellipsis-end)
    -> length gates -> word-n-gram
    repetition gate (ngram_stats over the CLEANED text, top-2-gram
    > 0.20 or dup-5-gram > 0.15, AFTER empty/too_short: top-gram
    fractions are trivially large on tiny docs) -> Gopher word gates
    (mean word length in [3, 10], >= 0.80 alpha-word fraction, >= 2
    pooled-stopword hits — same post-length placement) -> BOTH quality
    models trained on the survivors and scored
    over every doc -> the first-matching-reason ladder -> the global
    packing window over the kept docs (mode='bin' rows, budget 512).

    Thresholds are interpolated from the SAME ``CorpusConfig`` defaults
    (and the shared GOPHER_* n-gram dials) the pipeline reads — one
    source of truth, so a config change cannot silently desynchronize
    the two mirrors."""
    from stop_sync_osm_atlas_spark.plans.corpus import (
        GOPHER_DUP_NGRAM,
        GOPHER_TOP_NGRAM,
        CorpusConfig,
    )

    cc = CorpusConfig()
    # `is None`-resolution, NOT truthiness: the pipeline's contract is
    # None -> published Gopher defaults while `{}` means "stage off"
    # (plans/corpus.py) — an `or` here would re-enable the gates on the
    # oracle side only for a `{}` config and report mirror drift as
    # engine bugs
    top_d = (
        cc.max_top_ngram_char_frac
        if cc.max_top_ngram_char_frac is not None
        else GOPHER_TOP_NGRAM
    )
    dup_d = (
        cc.max_dup_ngram_char_frac
        if cc.max_dup_ngram_char_frac is not None
        else GOPHER_DUP_NGRAM
    )
    ngram_pred = " OR ".join(
        [f"g.top_{n}gram_char_frac > {th}" for n, th in sorted(top_d.items())]
        + [
            f"g.dup_{n}gram_char_frac > {th}"
            for n, th in sorted(dup_d.items())
        ]
    )
    wl_lo, wl_hi = cc.word_len_range
    words = _sql_words("c.text")
    return f"""
WITH dl AS (
  SELECT doc_id, lang, string_split(coalesce(text, ''), chr(10)) AS ls
  FROM documents
),
lrow AS (
  SELECT doc_id, pos, ls[CAST(pos AS INT)] AS line,
         lower(trim(ls[CAST(pos AS INT)], {_WS})) AS form
  FROM (SELECT doc_id, unnest(range(1, len(ls)+1)) AS pos, ls FROM dl)
),
firsts AS (
  SELECT doc_id, pos, line, form,
    row_number() OVER (PARTITION BY doc_id, form ORDER BY pos) AS rk
  FROM lrow
),
kept0 AS (SELECT doc_id, pos, line, form FROM firsts WHERE rk = 1 OR form = ''),
boiler AS (
  SELECT form FROM kept0 WHERE form <> ''
  GROUP BY form HAVING count(DISTINCT doc_id) > {cc.max_line_df}
),
keptl AS (
  SELECT doc_id, pos, line FROM kept0
  WHERE form = '' OR form NOT IN (SELECT form FROM boiler)
),
rebuilt AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_clean
  FROM keptl GROUP BY doc_id
),
clean AS (
  SELECT d.doc_id, d.lang, coalesce(r.text_clean, '') AS text
  FROM documents d LEFT JOIN rebuilt r USING (doc_id)
),
fpr AS (
  SELECT doc_id,
    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS fp_rk
  FROM clean
),
surv AS (
  SELECT c.doc_id, c.lang, c.text
  FROM clean c JOIN fpr USING (doc_id) WHERE fp_rk = 1
),
{_minhash_pair_ctes('surv', 0.5)[0]},
near AS (SELECT DISTINCT b_id AS doc_id FROM mh_pairs),
{_ngram_ctes('clean', tuple(sorted(top_d)), tuple(sorted(dup_d)), tag='ngr')[0]},
lsf AS (
  SELECT doc_id, form, count(*) AS c, length(form) AS len
  FROM lrow WHERE form <> '' GROUP BY doc_id, form
),
lsd AS (
  SELECT doc_id, sum(c) AS n_l, sum(c) - count(*) AS dups,
    sum(c * len) AS chars, sum((c - 1) * len) AS dup_chars,
    {_sql_line_format_sums()}
  FROM lsf GROUP BY doc_id
),
{_ppl_ctes_for(score='clean', train='surv')},
{_nb_ctes_for(score='clean', train='surv')},
sig0 AS (
  SELECT c.doc_id, c.lang, fpr.fp_rk,
    (n.doc_id IS NOT NULL) AS is_near,
    (round(coalesce(l.dups * 1.0 / l.n_l, 0.0), 6) > {cc.max_dup_line_frac}
     OR round(coalesce(l.dup_chars * 1.0 / l.chars, 0.0), 6)
        > {cc.max_dup_line_char_frac})
      AS is_rep,
    round(coalesce(l.bullets * 1.0 / l.n_l, 0.0), 6)
      > {cc.max_bullet_line_frac} AS is_bullet,
    round(coalesce(l.ellipses * 1.0 / l.n_l, 0.0), 6)
      > {cc.max_ellipsis_line_frac} AS is_ellipsis,
    ({ngram_pred})
      AS is_ngram_rep,
    CASE WHEN len({words}) > 0 THEN
      round(length(regexp_replace(lower(trim(c.text, {_WS})), '[ \\t\\n\\x0b\\x0c\\r]', '', 'g'))
            * 1.0 / len({words}), 6)
      ELSE 0.0 END AS mean_wlen,
    CASE WHEN len({words}) > 0 THEN
      round(len(list_filter({words}, x -> regexp_matches(x, '[a-z]')))
            * 1.0 / len({words}), 6)
      ELSE 1.0 END AS alpha_frac,
    len(list_filter({words}, x -> list_contains({_sql_list(ALL_STOPWORDS)}, x)))
      AS sw_hits,
    (trim(c.text, {_WS}) = '') AS is_empty,
    CAST(len({words}) AS INT) AS n_tok,
    s.ppl,
    CASE WHEN p.nonempty THEN b.cand ELSE 'und' END AS pred_lang
  FROM clean c
  JOIN fpr USING (doc_id)
  LEFT JOIN near n ON n.doc_id = c.doc_id
  LEFT JOIN lsd l ON l.doc_id = c.doc_id
  JOIN ngr g ON g.doc_id = c.doc_id
  JOIN prep p USING (doc_id)
  LEFT JOIN ppl_scored s USING (doc_id)
  LEFT JOIN best b USING (doc_id)
),
dec AS (
  SELECT doc_id, lang,
    CASE WHEN fp_rk > 1 THEN 'exact_dup'
         WHEN is_near THEN 'near_dup'
         WHEN is_rep THEN 'high_line_repetition'
         WHEN is_bullet THEN 'high_bullet_lines'
         WHEN is_ellipsis THEN 'high_ellipsis_lines'
         WHEN is_empty THEN 'empty'
         WHEN n_tok < {cc.min_words} THEN 'too_short'
         WHEN is_ngram_rep THEN 'high_ngram_repetition'
         WHEN mean_wlen < {wl_lo} OR mean_wlen > {wl_hi}
           THEN 'word_length_outlier'
         WHEN alpha_frac < {cc.min_alpha_word_frac} THEN 'low_alpha_ratio'
         WHEN sw_hits < {cc.min_stopword_hits} THEN 'low_stopword_count'
         WHEN ppl > {cc.ppl_threshold} THEN 'high_perplexity'
         WHEN pred_lang <> lang THEN 'langid_mismatch'
         ELSE 'keep' END AS reason,
    CASE WHEN fp_rk > 1 OR is_near OR is_rep OR is_bullet OR is_ellipsis
           OR is_ngram_rep OR is_empty OR n_tok < {cc.min_words}
           OR mean_wlen < {wl_lo} OR mean_wlen > {wl_hi}
           OR alpha_frac < {cc.min_alpha_word_frac}
           OR sw_hits < {cc.min_stopword_hits} OR ppl > {cc.ppl_threshold}
           OR pred_lang <> lang
         THEN 'drop' ELSE 'keep' END AS decision,
    n_tok
  FROM sig0
),
packed AS (
  SELECT lang, doc_id, n_tok,
    CAST(floor(coalesce(sum(n_tok) OVER (
      PARTITION BY lang ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      / {float(cc.pack_budget)}) AS BIGINT) AS bin
  FROM dec WHERE decision = 'keep'
)
SELECT 'decision' AS mode, CAST(doc_id AS BIGINT) AS doc_id, lang,
  reason, decision, CAST(n_tok AS BIGINT) AS n_tok,
  CAST(NULL AS BIGINT) AS bin, CAST(NULL AS BIGINT) AS n_docs,
  CAST(NULL AS BIGINT) AS total_tokens,
  CAST(NULL AS BIGINT) AS first_doc, CAST(NULL AS BIGINT) AS last_doc
FROM dec
UNION ALL
SELECT 'bin', CAST(NULL AS BIGINT), lang,
  CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
  bin, count(*), CAST(sum(n_tok) AS BIGINT),
  CAST(min(doc_id) AS BIGINT), CAST(max(doc_id) AS BIGINT)
FROM packed GROUP BY lang, bin
"""


def _oracle_q28() -> str:
    """Scrub + fingerprint + (r4) decontamination (per-doc 8-gram
    overlap against the doc_id % 20 == 0 eval subset, shingles hashed
    to 60-bit md5 ints exactly as operators/dedup.contamination_overlap)
    + (r5) ExactSubstr cross-doc substring duplication: positional
    token 8-grams (lead ladder), hashed identically, duplicated iff in
    >= 2 distinct docs; span coverage = window max over the 7 preceding
    gram starts; removal fp = md5 of the uncovered tokens re-joined in
    pos order (string_agg FILTER)."""
    n = 8
    k = 8
    words = _sql_words("text")
    ss_leads = ",\n    ".join(
        f"lead(tok, {j}) OVER w AS l{j}" for j in range(1, k)
    )
    ss_gram = " || ' ' || ".join(["tok"] + [f"l{j}" for j in range(1, k)])
    shingles8 = (
        f"list_distinct(list_transform(range(1, greatest(len({words}) - {n - 1}, 0) + 1), "
        f"i -> list_aggregate(list_slice({words}, i, i + {n - 1}), 'string_agg', ' ')))"
    )
    h = "CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT)"
    return f"""
WITH pairs AS (
  SELECT doc_id, text,
         CASE WHEN doc_id % 10 = 0
              THEN text || ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com now'
              ELSE text END AS caption
  FROM documents
),
ct_trh AS (
  SELECT id, {h} AS h FROM (
    SELECT doc_id AS id, unnest({shingles8}) AS sh FROM documents
  )
),
ct_te AS (
  SELECT DISTINCT {h} AS h FROM (
    SELECT unnest({shingles8}) AS sh FROM documents WHERE doc_id % 20 = 0
  )
),
ct AS (
  SELECT id, count(*) AS n_shingles,
    CAST(sum(CASE WHEN te.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS n_contaminated
  FROM ct_trh tr LEFT JOIN ct_te te USING (h) GROUP BY id
),
ss_tok AS (
  SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS tok
  FROM (SELECT doc_id, {words} AS l FROM documents)
),
ss_led AS (
  SELECT doc_id, pos, tok,
    {ss_leads}
  FROM ss_tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
ss_g AS (
  SELECT doc_id, pos, tok,
    CASE WHEN l{k - 1} IS NOT NULL
         THEN CAST(('0x' || substr(md5({ss_gram}), 1, 15)) AS BIGINT)
    END AS h
  FROM ss_led
),
ss_dup AS (
  -- the keep-one election rides the same dup-hash aggregate: the
  -- canonical occurrence of a duplicated gram is the lexicographic
  -- min (doc_id, pos) over ALL its occurrences (struct min, exactly
  -- operators/dedup._covered_token_frame's F.min(F.struct(id, pos)))
  SELECT h,
    (min({{'i': doc_id, 'p': pos}})).i AS fi,
    (min({{'i': doc_id, 'p': pos}})).p AS fpos
  FROM ss_g WHERE h IS NOT NULL GROUP BY h
  HAVING count(DISTINCT doc_id) >= 2
),
ss_cov AS (
  SELECT g.doc_id, g.pos, g.tok,
    CASE WHEN g.h IS NOT NULL THEN 1 ELSE 0 END AS gvalid,
    CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END AS gdup,
    max(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END)
      OVER (PARTITION BY g.doc_id ORDER BY g.pos
            ROWS BETWEEN {k - 1} PRECEDING AND CURRENT ROW) AS cov,
    max(CASE WHEN d.h IS NOT NULL
              AND NOT (g.doc_id = d.fi AND g.pos = d.fpos)
             THEN 1 ELSE 0 END)
      OVER (PARTITION BY g.doc_id ORDER BY g.pos
            ROWS BETWEEN {k - 1} PRECEDING AND CURRENT ROW) AS rm
  FROM ss_g g LEFT JOIN ss_dup d ON g.h = d.h
),
ss AS (
  SELECT doc_id,
    CAST(sum(gvalid) AS BIGINT) AS n_grams,
    CAST(sum(gdup) AS BIGINT) AS n_dup_grams,
    round(sum(cov) * 1.0 / count(*), 6) AS dup_span_frac,
    md5(coalesce(
      string_agg(tok, ' ' ORDER BY pos) FILTER (WHERE cov = 0), ''
    )) AS dedup_fp,
    md5(coalesce(
      string_agg(tok, ' ' ORDER BY pos) FILTER (WHERE rm = 0), ''
    )) AS keepfirst_fp
  FROM ss_cov GROUP BY doc_id
)
SELECT p.doc_id, {_sql_scrub('caption')} AS caption_scrubbed,
  (caption IS NOT NULL AND {_sql_scrub('caption')} <> caption) AS was_scrubbed,
  md5(substr(regexp_replace(lower(trim(coalesce(text, ''), {_WS})), '{_WS_RE}+', ' ', 'g'), 1, 64)) AS fp,
  coalesce(ct.n_shingles, 0) AS n_shingles,
  coalesce(ct.n_contaminated, 0) AS n_contaminated,
  round(coalesce(ct.n_contaminated * 1.0 / ct.n_shingles, 0.0), 6) AS overlap_frac,
  coalesce(ss.n_grams, 0) AS n_grams,
  coalesce(ss.n_dup_grams, 0) AS n_dup_grams,
  coalesce(ss.dup_span_frac, 0.0) AS dup_span_frac,
  coalesce(ss.dedup_fp, md5('')) AS dedup_fp,
  coalesce(ss.keepfirst_fp, md5('')) AS keepfirst_fp
FROM pairs p LEFT JOIN ct ON ct.id = p.doc_id
  LEFT JOIN ss ON ss.doc_id = p.doc_id
"""


def _oracle_q26() -> str:
    """MinHash in SQL — built from the SAME ``_minhash_pair_ctes``
    block the q02 corpus oracle uses (ONE source of truth for the
    shingle/signature/band contract; the previous copy duplicated ~40
    lines that could silently diverge); q26 additionally projects the
    rounded agreement estimate for every surviving pair."""
    block, agree = _minhash_pair_ctes("documents", 0.35)
    n_sig = len(DD.MINHASH_COEFFS)
    return f"""
WITH {block}
SELECT p.a_id, p.b_id,
  round(({agree}) * 1.0 / {n_sig}, 6) AS est_jaccard
FROM mh_pairs p JOIN mh_sig a ON p.a_id = a.id JOIN mh_sig b ON p.b_id = b.id
"""


def _oracle_q25() -> str:
    words = _sql_words("text")
    n = 3
    shingles = (
        f"list_distinct(list_transform(range(1, greatest(len({words}) - {n - 1}, 0) + 1), "
        f"i -> list_aggregate(list_slice({words}, i, i + {n - 1}), 'string_agg', ' ')))"
    )
    return f"""
WITH sh AS (
  SELECT doc_id AS id, unnest({shingles}) AS shingle FROM documents
), sh1 AS (SELECT id, shingle FROM sh WHERE trim(shingle) <> ''),
sh2 AS (
  SELECT id, shingle FROM (
    SELECT id, shingle, count(*) OVER (PARTITION BY shingle) AS df FROM sh1
  ) WHERE df <= 50
),
sizes AS (SELECT id, count(*) AS n_sh FROM sh2 GROUP BY id),
common AS (
  SELECT a.id AS a_id, b.id AS b_id, count(*) AS n_common
  FROM sh2 a JOIN sh2 b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT a_id, b_id,
  round(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.id = a_id
JOIN sizes sb ON sb.id = b_id
WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.35
"""


def _oracle_q30() -> str:
    return """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
scored AS (
  SELECT q.q_id, c.vec_id AS c_id,
    round(list_dot_product(q.qv, c.v) /
      (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cos_sim
  FROM q, e c WHERE q.q_id <> c.vec_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id ASC) AS rank
  FROM scored
)
SELECT q_id, c_id, cos_sim, rank FROM ranked WHERE rank <= 5
"""


def _oracle_q34() -> str:
    """Hyperplane-LSH ANN: identical plane literals, sketch, band join
    and re-rank as operators/similarity.lsh_cosine_topk."""
    planes = SIM._hyperplanes(dim=64, n_planes=16, seed=7)
    plane_lits = [
        "[" + ", ".join(repr(float(x)) for x in p) + "]" for p in planes
    ]
    sketch = " | ".join(
        f"(CASE WHEN list_dot_product(v, {plane_lits[p]}) > 0 "
        f"THEN (CAST(1 AS BIGINT) << {p}) ELSE 0 END)"
        for p in range(16)
    )
    band_structs = ", ".join(
        "{'band': %d, 'key': (sketch >> %d) & 15}" % (b, b * 4) for b in range(4)
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sk AS (SELECT vec_id, v, ({sketch}) AS sketch FROM e),
bands AS (SELECT vec_id, v, unnest([{band_structs}]) AS bk FROM sk),
q AS (SELECT vec_id AS q_id, v AS qv, bk FROM bands WHERE vec_id < 5),
cands AS (
  SELECT DISTINCT q.q_id, c.vec_id AS c_id, q.qv, c.v AS cv
  FROM bands c JOIN q ON c.bk = q.bk AND q.q_id <> c.vec_id
), scored AS (
  SELECT q_id, c_id,
    round(list_dot_product(qv, cv) /
      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cos_sim
  FROM cands
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id ASC) AS rank
  FROM scored
)
SELECT q_id, c_id, cos_sim, rank FROM ranked WHERE rank <= 5
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Exactly 50 entries, in numeric order (the driver records the
    # first 50 dict entries — every graded operator must sit inside
    # that window). Former q29/q34/q47/q49 were merged into
    # q28_scrub_fingerprint / q30_ann_methods / q39_pagination to make
    # room for the q53/q54 hardening queries; r4 retired
    # q02_filter_project (subsumed by q15/q38) so the composed corpus
    # pipeline could take a graded slot; COVERAGE.md maps the operator
    # ids to the merged rows.
    return {
        "q01_pricing_summary": q01_pricing_summary,
        "q02_corpus_prep": q02_corpus_prep,
        "q03_join_revenue": q03_join_revenue,
        "q04_unique_by_key": q04_unique_by_key,
        "q05_anti_join": q05_anti_join,
        "q06_semi_join": q06_semi_join,
        "q07_ratio_test": q07_ratio_test,
        "q08_duplicates": q08_duplicates,
        "q09_min_by": q09_min_by,
        "q10_first_last": q10_first_last,
        "q11_distinct_pairs": q11_distinct_pairs,
        "q12_conditional_distinct": q12_conditional_distinct,
        "q13_topk": q13_topk,
        "q14_cascade_resolution": q14_cascade_resolution,
        "q15_like_search": q15_like_search,
        "q16_priority_ladder": q16_priority_ladder,
        "q17_haversine": q17_haversine,
        "q18_normalized_join": q18_normalized_join,
        "q19_sessionize": q19_sessionize,
        "q20_doc_stats": q20_doc_stats,
        "q21_exact_dedup": q21_exact_dedup,
        "q22_langid_confusion": q22_langid_confusion,
        "q23_quality_cascade": q23_quality_cascade,
        "q24_neardup": q24_neardup,
        "q25_ngram_jaccard": q25_ngram_jaccard,
        "q26_minhash_lsh": q26_minhash_lsh,
        "q27_simhash": q27_simhash,
        "q28_scrub_fingerprint": q28_scrub_fingerprint,
        "q30_ann_methods": q30_ann_methods,
        "q31_embedding_stats": q31_embedding_stats,
        "q32_hourly_rollup": q32_hourly_rollup,
        "q33_json_path": q33_json_path,
        "q35_grouped_collect": q35_grouped_collect,
        "q36_name_match": q36_name_match,
        "q37_token_match": q37_token_match,
        "q38_viewport": q38_viewport,
        "q39_pagination": q39_pagination,
        "q40_embedding_neardup": q40_embedding_neardup,
        "q41_perplexity_model": q41_perplexity_model,
        "q42_langid_nb": q42_langid_nb,
        "q43_metrics_cube": q43_metrics_cube,
        "q44_banded_cosine_pairs": q44_banded_cosine_pairs,
        "q45_hash_sample": q45_hash_sample,
        "q46_strict_merge": q46_strict_merge,
        "q48_model_cascade": q48_model_cascade,
        "q50_sequence_pack": q50_sequence_pack,
        "q51_embedding_quantize": q51_embedding_quantize,
        "q52_tfidf_keywords": q52_tfidf_keywords,
        "q53_stream_dedup": q53_stream_dedup,
        "q54_neardup_bands": q54_neardup_bands,
    }


def _q37_dim_values() -> str:
    """The q37 token/prio/lang dim table interpolated from the SAME
    norm_tables the engine side reads (a hand-maintained VALUES copy
    silently desynchronized from any STOPWORDS/LANGS edit)."""
    return ", ".join(
        f"('{w}', {prio + 1}, '{lang}')"
        for prio, lang in enumerate(LANGS)
        for w in STOPWORDS[lang]
    )


def oracle_sql() -> dict[str, str]:
    return {
        "q01_pricing_summary": """
SELECT l_returnflag, l_linestatus,
  round(sum(l_quantity), 2) AS sum_qty,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
  round(avg(l_discount), 6) AS avg_disc,
  count(*) AS n
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1997-09-01'
GROUP BY l_returnflag, l_linestatus
""",
        "q02_corpus_prep": _oracle_q02(),
        "q03_join_revenue": """
SELECT c_mktsegment,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
  count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
        "q04_unique_by_key": """
SELECT o_custkey, o_orderkey FROM (
  SELECT o_custkey, o_orderkey, count(*) OVER (PARTITION BY o_custkey) AS n_orders
  FROM orders
) WHERE n_orders = 1
""",
        "q05_anti_join": """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""",
        "q06_semi_join": """
SELECT c_custkey FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
""",
        "q07_ratio_test": """
SELECT l_orderkey, round(l_extendedprice, 2) AS best, round(next_price, 2) AS second
FROM (
  SELECT l_orderkey, l_extendedprice,
    row_number() OVER (PARTITION BY l_orderkey ORDER BY l_extendedprice, l_linenumber) AS rn,
    lead(l_extendedprice) OVER (PARTITION BY l_orderkey ORDER BY l_extendedprice, l_linenumber) AS next_price
  FROM lineitem
) WHERE rn = 1 AND next_price IS NOT NULL AND next_price / l_extendedprice >= 2.0
""",
        "q08_duplicates": """
SELECT p_partkey, p_brand, p_size, dup_count, canonical_partkey,
  (p_partkey = canonical_partkey) AS is_canonical
FROM (
  SELECT p_partkey, p_brand, p_size,
    count(*) OVER (PARTITION BY p_brand, p_size) AS dup_count,
    min(p_partkey) OVER (PARTITION BY p_brand, p_size) AS canonical_partkey
  FROM part
) WHERE dup_count > 1
""",
        "q09_min_by": """
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey) AS rn
  FROM orders
) WHERE rn = 1
""",
        "q10_first_last": """
SELECT DISTINCT user_id,
  first_value(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS first_type,
  first_value(event_type) OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS last_type
FROM events
WHERE ts IS NOT NULL
""",
        "q11_distinct_pairs": """
SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n
FROM events GROUP BY event_type
""",
        "q12_conditional_distinct": """
SELECT
  count(DISTINCT CASE WHEN o_orderstatus = 'F' THEN o_custkey END) AS n_f_cust,
  count(DISTINCT CASE WHEN o_orderstatus = 'O' THEN o_custkey END) AS n_o_cust,
  count(DISTINCT CASE WHEN o_totalprice > 200000 THEN o_custkey END) AS n_big_cust,
  count(*) AS n_orders
FROM orders
""",
        "q13_topk": """
SELECT o_orderkey, round(o_totalprice, 2) AS price
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
""",
        "q14_cascade_resolution": """
WITH hits AS (
  SELECT o_orderkey, 'exact' AS rule, 1 AS prio FROM orders WHERE o_orderstatus = 'F'
  UNION ALL
  SELECT o_orderkey, 'name', 2 FROM orders WHERE o_orderpriority LIKE '1%'
  UNION ALL
  SELECT o_orderkey, 'distance', 3 FROM orders WHERE o_totalprice > 250000
)
SELECT o_orderkey, rule FROM (
  SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY prio) AS rn FROM hits
) WHERE rn = 1
""",
        "q15_like_search": """
SELECT p_partkey, p_name, p_brand FROM part
WHERE p_name LIKE '%green%' OR lower(p_type) LIKE '%brass%' OR p_brand LIKE 'Brand#1%'
""",
        "q16_priority_ladder": """
SELECT severity, count(*) AS n, round(avg(o_totalprice), 2) AS avg_price FROM (
  SELECT CASE WHEN o_totalprice > 300000 THEN 1
              WHEN o_totalprice > 150000 THEN 2
              WHEN o_totalprice > 50000 THEN 3
              ELSE 4 END AS severity, o_totalprice
  FROM orders
) GROUP BY severity
""",
        "q17_haversine": """
SELECT c_nationkey, round(avg(dist_m), 2) AS avg_dist_m, count(*) AS n FROM (
  SELECT c_nationkey,
    2 * 6371000.0 * asin(sqrt(
      pow(sin(radians(47.0 - ((c_custkey % 18000) / 100.0 - 90.0)) / 2), 2)
      + cos(radians((c_custkey % 18000) / 100.0 - 90.0)) * cos(radians(47.0))
      * pow(sin(radians(8.0 - (((c_custkey * 7) % 36000) / 100.0 - 180.0)) / 2), 2)
    )) AS dist_m
  FROM customer
) GROUP BY c_nationkey
""",
        "q18_normalized_join": """
WITH parts AS (
  SELECT p_partkey, regexp_replace(p_brand, '[0-9]+', 'X', 'g') AS brand_norm FROM part
), counts AS (SELECT brand_norm, count(*) AS n_same FROM parts GROUP BY brand_norm)
SELECT p_partkey, parts.brand_norm, n_same FROM parts JOIN counts USING (brand_norm)
""",
        "q19_sessionize": """
WITH sess AS (
  SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions, count(*) AS n_events FROM (
    SELECT user_id,
      CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
           OR lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
           THEN 1 ELSE 0 END AS new_sess
    FROM events
    WHERE ts IS NOT NULL
  ) GROUP BY user_id
)
SELECT user_id, n_sessions, n_events, 'batch' AS mode FROM sess
UNION ALL
SELECT user_id, n_sessions, n_events, 'stream' AS mode FROM sess
""",
        "q20_doc_stats": _oracle_q20(),
        "q21_exact_dedup": f"""
WITH fp10k AS (
  SELECT doc_id,
    md5(substr(regexp_replace(lower(trim(coalesce(text, ''), {_WS})), '{_WS_RE}+', ' ', 'g'), 1, 10000)) AS fp
  FROM documents
), fp48 AS (
  SELECT doc_id,
    md5(substr(regexp_replace(lower(trim(coalesce(text, ''), {_WS})), '{_WS_RE}+', ' ', 'g'), 1, 48)) AS fp
  FROM documents
)
SELECT doc_id, fp,
  count(*) OVER (PARTITION BY fp) AS dup_count,
  (doc_id = min(doc_id) OVER (PARTITION BY fp)) AS is_canonical,
  'bounded' AS mode
FROM fp10k
UNION ALL
SELECT doc_id, fp,
  count(*) OVER (PARTITION BY fp) AS dup_count,
  (doc_id = min(doc_id) OVER (PARTITION BY fp)) AS is_canonical,
  'prefix48' AS mode
FROM fp48
""",
        "q22_langid_confusion": _oracle_q22(),
        "q23_quality_cascade": _oracle_q23(),
        "q24_neardup": """
WITH pairs AS (
  SELECT printf('doc:%06d', doc_id) AS image_id, doc_id // 3 AS grp
  FROM documents
)
SELECT image_id,
  min(image_id) OVER (PARTITION BY grp) AS cluster_id,
  CAST(count(*) OVER (PARTITION BY grp) AS INT) AS cluster_size,
  (image_id = min(image_id) OVER (PARTITION BY grp)) AS is_cluster_rep
FROM pairs
""",
        "q25_ngram_jaccard": _oracle_q25(),
        "q26_minhash_lsh": _oracle_q26(),
        "q27_simhash": f"""
WITH h AS (
  SELECT doc_id,
    list_transform(list_distinct({_sql_words('text')}),
      w -> CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT)) AS hs
  FROM documents
), bits AS (
  SELECT doc_id, hs, unnest(range(0, 60)) AS b FROM h
)
SELECT doc_id,
  CAST(sum(CASE WHEN 2 * len(list_filter(hs, h -> (h >> b) & 1 = 1)) > len(hs)
       THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
""",
        "q28_scrub_fingerprint": _oracle_q28(),
        "q30_ann_methods": f"""
SELECT 'brute' AS method, * FROM ({_oracle_q30()})
UNION ALL
SELECT 'lsh' AS method, * FROM ({_oracle_q34()})
UNION ALL
SELECT 'ivf' AS method, * FROM ({_oracle_q49()})
""",
        "q31_embedding_stats": """
SELECT label, count(*) AS n,
  round(avg(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))), 6) AS avg_norm
FROM embeddings GROUP BY label
""",
        "q32_hourly_rollup": """
SELECT date_trunc('hour', ts) AS hour, event_type,
  count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
""",
        "q41_perplexity_model": _oracle_q41(),
        "q42_langid_nb": _oracle_q42(),
        "q44_banded_cosine_pairs": _oracle_q44(),
        "q48_model_cascade": _oracle_q48(),
        "q52_tfidf_keywords": f"""
WITH toks AS (
  SELECT doc_id AS id, unnest({_sql_words('text')}) AS term FROM documents
),
tf AS (SELECT id, term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.id AS doc_id, tf.term,
    round(tf.tf * ln((SELECT count(*) FROM documents) * 1.0 / df.df), 6) AS tfidf
  FROM tf JOIN df USING (term)
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= 3
""",
        "q50_sequence_pack": f"""
WITH toks AS (
  SELECT lang, doc_id,
    len(regexp_extract_all(coalesce(text,''), '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0b\\x0c\\r]')) AS tok
  FROM documents
), binned AS (
  SELECT lang, doc_id, tok,
    CAST(floor(coalesce(sum(tok) OVER (
      PARTITION BY lang ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512.0) AS BIGINT) AS bin
  FROM toks
), sh_local AS (
  SELECT lang, doc_id, tok, doc_id % 4 AS shard,
    CAST(floor(coalesce(sum(tok) OVER (
      PARTITION BY lang, doc_id % 4 ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512.0) AS BIGINT) AS lbin
  FROM toks
), sh_counts AS (
  SELECT lang, shard, max(lbin) + 1 AS nbins FROM sh_local GROUP BY lang, shard
), sh_off AS (
  SELECT lang, shard,
    coalesce(sum(nbins) OVER (
      PARTITION BY lang ORDER BY shard
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM sh_counts
), sh_binned AS (
  SELECT l.lang, l.doc_id, l.tok, CAST(l.lbin + o.off AS BIGINT) AS bin
  FROM sh_local l JOIN sh_off o ON l.lang = o.lang AND l.shard = o.shard
)
SELECT lang, bin, count(*) AS n_docs,
  CAST(sum(tok) AS BIGINT) AS total_tokens,
  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
  'global' AS mode
FROM binned GROUP BY lang, bin
UNION ALL
SELECT lang, bin, count(*) AS n_docs,
  CAST(sum(tok) AS BIGINT) AS total_tokens,
  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
  'sharded' AS mode
FROM sh_binned GROUP BY lang, bin
""",
        "q51_embedding_quantize": """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (
  SELECT vec_id, v,
    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
  FROM e
)
SELECT vec_id, round(scale, 6) AS scale,
  round(CASE WHEN scale = 0 THEN 0.0 ELSE sqrt(list_aggregate(
    list_transform(v, x -> pow(x - round(x / scale) * scale, 2)),
    'sum')) END, 6) AS recon_err
FROM s
""",
        "q46_strict_merge": """
WITH probe AS (
  SELECT o_orderkey AS probe_id,
    'Brand#' || CAST(1 + o_orderkey % 5 AS VARCHAR) || CAST(1 + o_custkey % 5 AS VARCHAR) AS k1,
    CAST(o_orderkey % 50 AS VARCHAR) AS k2
  FROM orders
), build AS (
  SELECT 'p:' || p_brand || ':' || CAST(p_partkey AS VARCHAR) || ':'
           || CAST(p_partkey % 50 AS VARCHAR) AS build_id,
    p_brand AS k1, CAST(p_partkey % 40 AS VARCHAR) AS k2
  FROM part WHERE p_size <= 2
), strict AS (
  SELECT p.probe_id, b.build_id, 'strict' AS tier
  FROM probe p JOIN build b ON p.k1 = b.k1 AND p.k2 = b.k2
), rem1 AS (
  SELECT * FROM probe WHERE probe_id NOT IN (SELECT probe_id FROM strict)
), per_key AS (
  SELECT k1, count(*) AS n, min(build_id) AS only_id FROM build GROUP BY k1
), uniq AS (
  SELECT r.probe_id, pk.only_id AS build_id, 'unique_by_key' AS tier
  FROM rem1 r JOIN per_key pk ON r.k1 = pk.k1 AND pk.n = 1
), rem2 AS (
  SELECT * FROM rem1 WHERE probe_id NOT IN (SELECT probe_id FROM uniq)
), suffix AS (
  SELECT r.probe_id, min(b.build_id) AS build_id, 'suffix_token' AS tier
  FROM rem2 r JOIN build b ON r.k1 = b.k1 AND r.k2 IS NOT NULL
    AND string_split(b.build_id, ':')[-1] = r.k2
  GROUP BY r.probe_id
)
SELECT * FROM strict UNION ALL SELECT * FROM uniq UNION ALL SELECT * FROM suffix
""",
        "q45_hash_sample": """
WITH toks AS (
  SELECT doc_id, lang,
    len(regexp_extract_all(coalesce(text,''), '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0b\\x0c\\r]')) AS tok
  FROM documents
), tot AS (
  SELECT lang, CAST(sum(tok) AS BIGINT) AS tokens FROM toks GROUP BY lang
), rates AS (
  -- t.tokens > 0 mirrors mixture_rates' zero-token-domain guard: DuckDB
  -- x/0 is NULL and least(3.0, NULL) IGNORES the null (the same trap as
  -- Spark's least()), which would hand an all-empty domain the CAP rate
  SELECT t.lang,
    CAST(floor(least(3.0, 40000.0 * w.w / t.tokens)) AS BIGINT) AS n_full,
    CAST(floor((least(3.0, 40000.0 * w.w / t.tokens)
      - floor(least(3.0, 40000.0 * w.w / t.tokens))) * 1000000) AS BIGINT) AS thr
  FROM tot t
  JOIN (VALUES ('en', 0.25), ('de', 0.2), ('fr', 0.2), ('zh', 0.35)) AS w(lang, w)
    ON w.lang = t.lang
  WHERE t.tokens > 0
), mix AS (
  SELECT d.doc_id, d.lang,
    r.n_full + CASE WHEN CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                         % 1000000 < r.thr THEN 1 ELSE 0 END AS copies
  FROM documents d JOIN rates r ON r.lang = d.lang
)
SELECT doc_id, lang, 'uniform' AS mode, CAST(0 AS BIGINT) AS epoch FROM documents
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 100
UNION ALL
SELECT doc_id, lang, 'mixture' AS mode, CAST(unnest(range(copies)) AS BIGINT) AS epoch
FROM mix
""",
        "q40_embedding_neardup": """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
  round(list_dot_product(a.v, b.v) /
    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
FROM e a, e b
WHERE a.vec_id < b.vec_id
  AND round(list_dot_product(a.v, b.v) /
    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.45
""",
        "q43_metrics_cube": """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
  round(sum(o_totalprice), 2) AS total
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
        "q39_pagination": """
SELECT event_id, round(CASE WHEN event_id % 500 = 0 THEN value END, 2) AS dist
FROM events ORDER BY dist DESC NULLS LAST, event_id ASC LIMIT 25 OFFSET 10
""",
        "q36_name_match": """
WITH probe AS (SELECT DISTINCT p_type FROM part WHERE p_size <= 2),
cand AS (
  SELECT p.p_partkey, p.p_type, p.p_brand,
    count(*) OVER (PARTITION BY p.p_type) AS n_cand,
    sum(CASE WHEN p.p_brand = 'Brand#11' THEN 1 ELSE 0 END) OVER (PARTITION BY p.p_type) AS n_tie
  FROM part p JOIN probe USING (p_type)
)
SELECT p_type, p_partkey AS matched_partkey, 'unique' AS match_via FROM cand WHERE n_cand = 1
UNION ALL
SELECT p_type, p_partkey, 'tiebreak' FROM cand
WHERE n_cand > 1 AND n_tie = 1 AND p_brand = 'Brand#11'
""",
        "q37_token_match": f"""
WITH dim(token, prio, lang) AS (VALUES {_q37_dim_values()}),
toks AS (
  SELECT doc_id, unnest(list_distinct(string_split_regex(lower(trim(text, {_WS})), '{_WS_RE}+'))) AS token
  FROM documents
)
SELECT doc_id, min(prio) AS best_prio, count(*) AS n_matched_tokens
FROM toks JOIN dim USING (token) GROUP BY doc_id
""",
        "q38_viewport": """
SELECT o_orderkey,
  round((o_orderkey % 18000) / 100.0 - 90.0, 2) AS lat,
  round(((o_orderkey * 3) % 36000) / 100.0 - 180.0, 2) AS lon
FROM orders
WHERE (((o_orderkey % 18000) / 100.0 - 90.0) BETWEEN 10 AND 40
       AND (((o_orderkey * 3) % 36000) / 100.0 - 180.0) BETWEEN 100 AND 170)
   OR (o_orderkey % 7 = 0
       AND ((o_custkey % 18000) / 100.0 - 90.0) BETWEEN 10 AND 40
       AND (((o_custkey * 3) % 36000) / 100.0 - 180.0) BETWEEN 100 AND 170)
""",
        "q33_json_path": """
SELECT event_type, count(*) AS n, round(avg(k), 4) AS avg_k FROM (
  SELECT event_type, TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events
) WHERE k > 50 GROUP BY event_type
""",
        "q35_grouped_collect": """
SELECT event_type,
  array_to_string(list_sort(list(DISTINCT user_id % 100)), ',') AS users_mod100
FROM events GROUP BY event_type
""",
        # streaming batch equivalence, all three ops in one union:
        # dedup = the surviving-fingerprint SET equals the batch
        # dedup's distinct fingerprints; decision = per-image rule
        # decisions equal the batch ladder (the q23 derivation with
        # near-dup/perplexity off — the streaming semantics); metrics =
        # the watermarked windowed counts sum per decision to the batch
        # ladder's decision counts
        "q53_stream_dedup": f"""
WITH pairs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0
              THEN text || ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com now'
              ELSE text END AS caption
  FROM documents
),
q23 AS ({_oracle_q23()})
SELECT 'dedup' AS mode, fp, CAST(NULL AS VARCHAR) AS decision,
  CAST(NULL AS BIGINT) AS n
FROM (
  SELECT DISTINCT
    md5(substr(regexp_replace(lower(trim(coalesce(caption, ''), {_WS})), '{_WS_RE}+', ' ', 'g'), 1, 10000)) AS fp
  FROM pairs
)
UNION ALL
SELECT 'decision', printf('doc:%06d', doc_id), decision,
  CAST(NULL AS BIGINT)
FROM q23
UNION ALL
SELECT 'metrics', CAST(NULL AS VARCHAR), decision,
  CAST(count(*) AS BIGINT)
FROM q23 GROUP BY decision
""",
        # same planted ground truth as q24 — the bands bridge must
        # reproduce the doc_id//3 groups exactly
        "q54_neardup_bands": """
WITH pairs AS (
  SELECT printf('doc:%06d', doc_id) AS image_id, doc_id // 3 AS grp
  FROM documents
)
SELECT image_id,
  min(image_id) OVER (PARTITION BY grp) AS cluster_id,
  CAST(count(*) OVER (PARTITION BY grp) AS INT) AS cluster_size,
  (image_id = min(image_id) OVER (PARTITION BY grp)) AS is_cluster_rep
FROM pairs
""",
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q23_quality_cascade(spark, "/root/testdata/sf0.001")
