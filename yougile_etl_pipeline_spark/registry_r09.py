"""Round-9 query registrations.

Every entry landed with its DuckDB oracle proven bit-identical at
sf0.001 AND sf0.01 and a recorded sf0.1 wall time + plan fingerprint
(bench.py's r09 block). Same determinism contract as registry.py's
module docstring.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from yougile_etl_pipeline_spark.registry_base import register
from yougile_etl_pipeline_spark.sources.tables import load_table


@register("sample_reservoir_per_lang", """
SELECT lang, doc_id, source FROM (
  SELECT lang, doc_id, source,
         row_number() OVER (
             PARTITION BY lang
             ORDER BY md5(CAST(doc_id AS VARCHAR) || ':r09'), doc_id)
           AS rk
  FROM documents) WHERE rk <= 20
""")
def sample_reservoir_per_lang(spark, sf):
    # Deterministic per-group k-sample — the distributed reservoir a
    # training pipeline uses for eval/holdout carve-outs: k docs per
    # language, selection a pure function of doc_id (salted md5), so
    # re-runs and repartitions return the SAME sample. Runs through
    # operators/relational.py::grouped_topk, certifying the two-phase
    # top-k directly: the partition-local combiner bounds every task
    # at |langs|·k rows, no language ever funnels its whole corpus
    # through one sort task (tests/test_grouped_topk.py pins parity
    # and plan shape).
    from yougile_etl_pipeline_spark.operators.relational import (
        grouped_topk,
    )

    docs = load_table(spark, sf, "documents").select(
        "doc_id", "lang", "source")
    keyed = docs.withColumn(
        "__ord",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":r09"))))
    return (grouped_topk(keyed, ["lang"], ["__ord", "doc_id"], 20)
            .select("lang", "doc_id", "source"))


@register("corpus_mixture_rebalance", """
WITH t AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents),
tot AS (SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS tot
        FROM t GROUP BY lang),
mn AS (SELECT MIN(tot) AS m FROM tot),
q AS (SELECT lang, (m * 10000) // tot AS q FROM tot, mn),
kept AS (
  SELECT t.* FROM t JOIN q USING (lang)
  WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
             AS BIGINT) % 10000 < q)
SELECT lang, count(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM kept GROUP BY lang
""")
def corpus_mixture_rebalance(spark, sf):
    # Data-driven mixture rebalancing (quality.py::mixture_rebalance):
    # every language downsampled to ~the smallest language's token
    # budget — the equal-mix primitive for multilingual training.
    # Rates are (min·10000) div total in BIGINT (no float division,
    # bit-identical across engines); row selection is the salted-md5
    # bucket, deterministic per doc_id. The corpus never shuffles:
    # the rate table (|langs| rows) broadcasts onto a per-row filter.
    from yougile_etl_pipeline_spark.operators.quality import (
        mixture_rebalance,
    )
    from yougile_etl_pipeline_spark.operators.text import tokens

    docs = (load_table(spark, sf, "documents")
            .select("doc_id", "lang",
                    F.size(tokens("text")).cast("bigint")
                    .alias("n_tokens")))
    kept = mixture_rebalance(docs, "lang", "n_tokens", "doc_id")
    return (kept.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").cast("bigint").alias("total_tokens")))


@register("events_hopping_counts", """
SELECT win_start_ms, event_type, count(*) AS n
FROM (
  SELECT event_type,
         unnest(generate_series(a - 1200000, a, 600000)) AS win_start_ms
  FROM (SELECT event_type,
               epoch_ms(ts) - epoch_ms(ts) % 600000 AS a
        FROM events))
GROUP BY 1, 2
""")
def events_hopping_counts(spark, sf):
    # Hopping (sliding) windows via Spark's native F.window — 30-min
    # windows every 10 min, so each event lands in exactly three
    # windows. This is THE streaming-rollup shape (same expression
    # works under readStream + watermark); batch-certified here
    # against an explicit window-enumeration oracle. Map-side 3×
    # expansion then one keyed aggregate — no other shuffle; window
    # starts are epoch-aligned so the result is TZ-pinned by
    # _configure's UTC session (10-min slides also make every
    # whole-minute zone offset a no-op on alignment).
    e = load_table(spark, sf, "events")
    return (e.groupBy(F.window("ts", "30 minutes", "10 minutes")
                      .alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.unix_millis(F.col("w.start")).alias("win_start_ms"),
                    "event_type", "n"))

@register("text_bpe_roundtrip", """
WITH w AS (
  SELECT DISTINCT lang, unnest(string_split(text, ' ')) AS word
  FROM documents)
SELECT lang, count(*) AS n_words,
       CAST(SUM(len(word)) AS BIGINT) AS total_chars,
       CAST(SUM(len(word)) AS BIGINT) AS total_decoded_chars,
       0 AS n_mismatch
FROM w WHERE regexp_matches(word, '^[A-Za-z0-9]+$')
GROUP BY lang
""")
def text_bpe_roundtrip(spark, sf):
    # Tokenizer round-trip audit — decode(encode(w)) must equal w for
    # every distinct word: bpe_encode (operators/bpe.py) splits each
    # word to char symbols + '</w>' and folds a FIXED merge table
    # (driver-side constant, the shipped-artifact economics); decode
    # is the inverse map-only fold (concat tokens, strip the end
    # marker). The oracle computes what a LOSSLESS tokenizer must
    # yield — decoded chars == original chars, zero mismatches —
    # without running BPE, so any encode/decode defect hash-diverges.
    # Domain pinned to [A-Za-z0-9]+ words: a word containing the end
    # marker itself is ambiguous by construction. Everything is
    # map-only after the distinct (the memoization grain bpe_encode
    # documents); no other shuffle.
    from yougile_etl_pipeline_spark.operators.bpe import bpe_encode

    merges = [("t", "h"), ("e", "</w>"), ("th", "e</w>"), ("a", "n"),
              ("i", "n"), ("o", "r"), ("r", "e"), ("s", "</w>"),
              ("in", "g"), ("an", "d</w>")]
    words = (load_table(spark, sf, "documents")
             .select("lang", F.explode(F.split("text", " "))
                     .alias("word"))
             .filter(F.col("word").rlike("^[A-Za-z0-9]+$"))
             .distinct())
    enc = bpe_encode(words, merges, word_col="word", out_col="toks")
    dec = enc.withColumn(
        "decoded",
        F.regexp_replace(F.array_join("toks", ""), "</w>$", ""))
    return (dec.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_words"),
                 F.sum(F.length("word")).cast("bigint")
                  .alias("total_chars"),
                 F.sum(F.length("decoded")).cast("bigint")
                  .alias("total_decoded_chars"),
                 F.sum(F.when(F.col("decoded") != F.col("word"), 1)
                        .otherwise(0)).cast("int")
                  .alias("n_mismatch")))


@register("stream_dedup_static_store", """
SELECT event_type, count(*) AS n_new,
       CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS total_value
FROM events WHERE event_id % 3 <> 0
GROUP BY event_type
""")
def stream_dedup_static_store(spark, sf):
    # Incremental-ingest dedup: the event stream anti-joined against
    # a STATIC fingerprint store (16-byte md5 keys, never bodies) —
    # the streaming twin of dedup.py::incremental
    # (snapshot.py::dedup_against_store_stream). The store is a pure
    # function of the snapshot (event_id ≡ 0 mod 3), making the
    # surviving set a deterministic projection and the entry
    # hash-exact; complete-mode rollup is slicing-independent.
    from yougile_etl_pipeline_spark.streaming.snapshot import (
        run_dedup_store_available_now,
    )

    return run_dedup_store_available_now(
        spark, sf, table_name="stream_dedup_store_reg")


@register("mm_bmp_palette8", """
WITH p AS (SELECT p_partkey AS id, 5 + p_partkey % 6 AS w,
                  2 + p_partkey % 4 AS h
           FROM part),
v AS (
  SELECT id, w, h,
         list_transform(range(0, CAST(w*h AS BIGINT)),
           i -> (id + 3*(i // w) + 2*(i % w)) % 256) AS idx
  FROM p)
SELECT id AS media_id,
  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
  CAST(list_sum(list_transform(idx,
       x -> (3*x+1)%256 + (5*x+2)%256 + (7*x+3)%256)) AS BIGINT)
    AS px_sum,
  CAST(list_min(list_transform(idx,
       x -> least((3*x+1)%256, (5*x+2)%256, (7*x+3)%256))) AS INTEGER)
    AS px_min,
  CAST(list_max(list_transform(idx,
       x -> greatest((3*x+1)%256, (5*x+2)%256, (7*x+3)%256))) AS INTEGER)
    AS px_max
FROM v
""")
def mm_bmp_palette8(spark, sf):
    # Uncompressed 8-bpp palette BMP with a real color-table walk
    # (media_codec.bmp_pal8_decode): the synth palette is closed-form
    # but NON-identity, so the statistics prove the decoder honors
    # the lookup — the path mm_bmp_rle8's grayscale-identity palette
    # never exercises — plus the 1-byte-pixel stride rule. Oracle
    # computes resolved-channel stats from the index and palette
    # formulas without seeing a byte.
    from yougile_etl_pipeline_spark.operators.multimodal import (
        bmp_pal8_stats,
        synth_bmp_pal8_payloads,
    )

    pt = load_table(spark, sf, "part").select("p_partkey")
    return bmp_pal8_stats(synth_bmp_pal8_payloads(pt, "p_partkey"))


@register("events_asof_nearest", """
WITH c AS (
  SELECT user_id, epoch_ms(ts) AS ms, event_id FROM events
  WHERE event_type = 'click'
), p AS (
  SELECT event_id AS purchase_id, user_id, epoch_ms(ts) AS purchase_ms
  FROM events WHERE event_type = 'purchase'
), j AS (
  SELECT p.purchase_id, p.user_id, p.purchase_ms,
         c.ms AS click_ms, c.event_id AS click_id,
         abs(c.ms - p.purchase_ms) AS d,
         row_number() OVER (
           PARTITION BY p.purchase_id
           ORDER BY abs(c.ms - p.purchase_ms) ASC NULLS LAST,
                    c.ms ASC NULLS LAST, c.event_id DESC NULLS LAST)
           AS rn
  FROM p LEFT JOIN c ON c.user_id = p.user_id
)
SELECT purchase_id, user_id, purchase_ms, click_ms, click_id,
       d AS dist_ms
FROM j WHERE rn = 1
""")
def events_asof_nearest(spark, sf):
    # Nearest-asof join (pandas merge_asof direction='nearest'): each
    # purchase picks the user's click MINIMIZING |click − purchase|,
    # ties to the earlier click, then the greatest event_id. Built as
    # the composition of the backward + forward union-sort asof joins
    # (relational.py::asof_join — one shuffle each, never a quadratic
    # candidate set; the oracle states the same pick as an argmin
    # over the naive per-key theta join). The forward leg tie-breaks
    # on -event_id so both directions prefer the GREATEST id among
    # equal-ts clicks, matching the oracle's single ordering.
    from yougile_etl_pipeline_spark.operators.relational import asof_join

    ev = load_table(spark, sf, "events").withColumn(
        "ms", F.unix_millis("ts"))
    clicks = (ev.filter(F.col("event_type") == "click")
                .select("user_id", "ms", F.col("event_id"),
                        (-F.col("event_id")).alias("neg_id")))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                   .select(F.col("event_id").alias("purchase_id"),
                           "user_id", F.col("ms").alias("purchase_ms")))
    back = asof_join(purchases, clicks, on="user_id",
                     left_ts="purchase_ms", right_ts="ms",
                     right_cols=["event_id"], suffix="_b",
                     direction="backward")
    both = asof_join(back, clicks, on="user_id",
                     left_ts="purchase_ms", right_ts="ms",
                     right_cols=["event_id", "neg_id"], suffix="_f",
                     tiebreak="neg_id", direction="forward")
    d_b = F.col("purchase_ms") - F.col("ms_b")
    d_f = F.col("ms_f") - F.col("purchase_ms")
    take_back = F.col("ms_b").isNotNull() & (
        F.col("ms_f").isNull() | (d_b <= d_f))
    return both.select(
        "purchase_id", "user_id", "purchase_ms",
        F.when(take_back, F.col("ms_b")).otherwise(F.col("ms_f"))
         .alias("click_ms"),
        F.when(take_back, F.col("event_id_b"))
         .otherwise(F.col("event_id_f")).alias("click_id"),
        F.when(take_back, d_b).otherwise(d_f).alias("dist_ms"))


@register("events_resample_interpolate", """
WITH bounds AS (
  SELECT user_id, date_trunc('hour', min(ts)) AS t0, max(ts) AS t1
  FROM events GROUP BY user_id
), grid AS (
  SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS h
  FROM bounds
), hourly AS (
  SELECT user_id, h, val, n_events FROM (
    SELECT user_id, date_trunc('hour', ts) AS h, value AS val,
           count(*) OVER (PARTITION BY user_id, date_trunc('hour', ts))
             AS n_events,
           row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events)
  WHERE rn = 1
), j AS (
  SELECT g.user_id, g.h, hh.val, coalesce(hh.n_events, 0) AS n_events
  FROM grid g LEFT JOIN hourly hh
    ON g.user_id = hh.user_id AND g.h = hh.h
), x AS (
  SELECT *,
    last_value(val IGNORE NULLS) OVER w_past AS vp,
    last_value(CASE WHEN val IS NOT NULL THEN h END IGNORE NULLS)
      OVER w_past AS hp,
    first_value(val IGNORE NULLS) OVER w_next AS vn,
    first_value(CASE WHEN val IS NOT NULL THEN h END IGNORE NULLS)
      OVER w_next AS hn
  FROM j
  WINDOW w_past AS (PARTITION BY user_id ORDER BY h
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         w_next AS (PARTITION BY user_id ORDER BY h
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, h,
  CASE WHEN val IS NOT NULL THEN val
       WHEN vp IS NULL THEN vn
       WHEN vn IS NULL THEN vp
       ELSE vp + (vn - vp)
            * (CAST(epoch_ms(h) - epoch_ms(hp) AS DOUBLE)
               / CAST(epoch_ms(hn) - epoch_ms(hp) AS DOUBLE))
  END AS value_interp,
  n_events
FROM x
""")
def events_resample_interpolate(spark, sf):
    # Linear-interpolation resampling (relational.py::
    # resample_interpolate): empty hourly buckets get the straight
    # line between the nearest anchored buckets, leading/trailing
    # gaps fall back to the single available anchor. Anchor time and
    # value ride the same null condition, so both windows pick the
    # SAME row (no chimera fills); v0 + (v1−v0)·(Δt/ΔT) is one
    # correctly-rounded double division + multiply + add in identical
    # operand order on both engines — hash-exact despite the doubles.
    from yougile_etl_pipeline_spark.operators.relational import (
        resample_interpolate,
    )

    ev = load_table(spark, sf, "events")
    return resample_interpolate(ev, "user_id", "ts", "value")


_PPR_GRAPH = """
d0 AS (
  SELECT DISTINCT doc_id % 40 AS src, (doc_id * 7 + 3) % 40 AS dst
  FROM documents WHERE doc_id % 40 <> (doc_id * 7 + 3) % 40),
nodes AS (SELECT DISTINCT n FROM (
  SELECT src AS n FROM d0 UNION SELECT dst FROM d0)),
deg AS (SELECT src, count(*) AS outdeg FROM d0 GROUP BY src),
ns AS (SELECT count(*) AS k FROM nodes WHERE n % 10 = 0)
"""

_PPR_STEP = """
s{i} AS (
  SELECT e.dst AS node, CAST(SUM(r.rank // d.outdeg) AS BIGINT) AS s
  FROM d0 e JOIN r{prev} r ON e.src = r.node
            JOIN deg d ON e.src = d.src
  GROUP BY e.dst
), r{i} AS (
  SELECT nd.n AS node,
         CAST(CASE WHEN nd.n % 10 = 0
                   THEN (15 * 1000000000000) // (100 * (SELECT k FROM ns))
                   ELSE 0 END
              + (85 * COALESCE(s{i}.s, 0)) // 100 AS BIGINT) AS rank
  FROM nodes nd LEFT JOIN s{i} ON nd.n = s{i}.node
)"""

_PPR_SQL = ("WITH " + _PPR_GRAPH
            + ", r0 AS (SELECT n AS node, CAST(CASE WHEN n % 10 = 0"
              " THEN 1000000000000 // (SELECT k FROM ns) ELSE 0 END"
              " AS BIGINT) AS rank FROM nodes)"
            + "".join("," + _PPR_STEP.format(i=i, prev=i - 1)
                      for i in (1, 2, 3))
            + "\nSELECT node, rank FROM r3")


@register("graph_pagerank_personalized", _PPR_SQL)
def graph_pagerank_personalized(spark, sf):
    # Personalized PageRank (graph.py::pagerank_personalized):
    # teleport mass restarts at the seed set (nodes ≡ 0 mod 10 of the
    # modular doc graph) instead of uniformly — seed-conditioned
    # relevance, the expansion primitive behind "more like these
    # documents". Integer fixed-point like the global variant, so
    # three unrolled iterations are bit-exact against the SQL oracle;
    # checkpoint_every=2 truncates lineage on the same cadence as
    # every other iterative graph op.
    from yougile_etl_pipeline_spark.operators.graph import (
        pagerank_personalized,
    )

    d = load_table(spark, sf, "documents")
    edges = (d.select((F.col("doc_id") % 40).alias("src"),
                      ((F.col("doc_id") * 7 + 3) % 40).alias("dst"))
             .filter(F.col("src") != F.col("dst"))
             .distinct())
    seeds = (d.select((F.col("doc_id") % 40).alias("node"))
             .filter(F.col("node") % 10 == 0)
             .distinct())
    return pagerank_personalized(edges, seeds)


@register("stream_hopping_counts", """
SELECT win_start_ms, event_type, count(*) AS n
FROM (
  SELECT event_type,
         unnest(generate_series(a - 1200000, a, 600000)) AS win_start_ms
  FROM (SELECT event_type,
               epoch_ms(ts) - epoch_ms(ts) % 600000 AS a
        FROM events))
GROUP BY 1, 2
""")
def stream_hopping_counts(spark, sf):
    # The STREAMING twin of events_hopping_counts — identical
    # F.window expression under readStream, complete-mode state,
    # availableNow drain; shares the batch entry's window-enumeration
    # oracle verbatim (snapshot.py::hopping_counts_stream).
    from yougile_etl_pipeline_spark.streaming.snapshot import (
        run_hopping_available_now,
    )

    return run_hopping_available_now(
        spark, sf, table_name="stream_hopping_reg")


@register("events_stickiness_dau_mau", """
WITH d AS (
  SELECT date_trunc('month', ts) AS mon, CAST(ts AS DATE) AS day,
         user_id
  FROM events),
dau AS (SELECT mon, day, count(DISTINCT user_id) AS dau
        FROM d GROUP BY 1, 2),
mau AS (SELECT mon, count(DISTINCT user_id) AS mau FROM d GROUP BY 1),
agg AS (SELECT mon, CAST(count(*) AS BIGINT) AS n_days,
               CAST(SUM(dau) AS BIGINT) AS sum_dau
        FROM dau GROUP BY mon)
SELECT a.mon, a.n_days, a.sum_dau, m.mau,
       CAST(a.sum_dau AS DOUBLE) / (a.n_days * m.mau) AS stickiness
FROM agg a JOIN mau m ON a.mon = m.mon
""")
def events_stickiness_dau_mau(spark, sf):
    # DAU/MAU stickiness — the engagement ratio every activity mart
    # reports: mean daily actives over monthly actives, per month.
    # Exact distinct counts both levels (bounded: |users| per bucket);
    # the single double division happens in identical operand order
    # on both engines, so the ratio is hash-exact.
    ev = load_table(spark, sf, "events").select(
        F.date_trunc("month", "ts").alias("mon"),
        F.to_date("ts").alias("day"), "user_id")
    dau = (ev.groupBy("mon", "day")
           .agg(F.count_distinct("user_id").alias("dau")))
    mau = ev.groupBy("mon").agg(F.count_distinct("user_id").alias("mau"))
    agg = (dau.groupBy("mon")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_days"),
                F.sum("dau").cast("bigint").alias("sum_dau")))
    return (agg.join(mau, "mon")
            .select("mon", "n_days", "sum_dau", "mau",
                    (F.col("sum_dau").cast("double")
                     / (F.col("n_days") * F.col("mau")))
                    .alias("stickiness")))


@register("corpus_dedup_rate_report", """
WITH f AS (
  SELECT source,
         md5(lower(regexp_replace(text, ' +', ' ', 'g'))) AS fp
  FROM documents)
SELECT source, count(*) AS n_docs,
       count(DISTINCT fp) AS n_unique,
       CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_dup_rows
FROM f GROUP BY source
""")
def corpus_dedup_rate_report(spark, sf):
    # Per-source duplication audit — the "how dirty is each crawl"
    # report that decides dedup budgets: normalized-text fingerprints
    # (the exact_dedup family's md5-of-collapsed-whitespace canon),
    # distinct-vs-total per source. Only 16-byte fingerprints
    # shuffle, never bodies.
    docs = load_table(spark, sf, "documents")
    fp = docs.select(
        "source",
        F.md5(F.lower(F.regexp_replace("text", " +", " "))).alias("fp"))
    return (fp.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.count_distinct("fp").alias("n_unique"),
                 (F.count(F.lit(1)) - F.count_distinct("fp"))
                 .cast("bigint").alias("n_dup_rows")))
