"""Round-14 query registrations.

Every entry landed with its DuckDB oracle proven bit-identical at
sf0.001 AND sf0.01 and a recorded sf0.1 wall time + plan fingerprint
(bench.py's r14 block). Same determinism contract as registry.py's
module docstring.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from yougile_etl_pipeline_spark.registry_base import register
from yougile_etl_pipeline_spark.registry_ext import _CSIM, _IVF_CENT, _IVF_NCENT
from yougile_etl_pipeline_spark.registry_r12 import (
    _MARKOV_ITERS,
    _MARKOV_S,
    _markov_chain_sql,
)
from yougile_etl_pipeline_spark.sources.tables import (
    load_table,
    table_row_count,
)


@register("mm_png_gray_resize_nearest", """
WITH p AS (SELECT event_id AS id,
                  6 + event_id % 5 AS w, 3 + event_id % 3 AS h
           FROM events),
v AS (SELECT id, w, h,
  list_transform(range(0, 48), k ->
    (id + 13 * (((k // 8) * h) // 6)
        + 7 * (((k % 8) * w) // 8)) % 256) AS px
  FROM p)
SELECT id AS media_id,
       CAST(w AS INTEGER) AS src_w, CAST(h AS INTEGER) AS src_h,
       CAST(list_sum(px) AS BIGINT) AS out_sum,
       CAST(list_min(px) AS INTEGER) AS out_min,
       CAST(list_max(px) AS INTEGER) AS out_max
FROM v
""")
def mm_png_gray_resize_nearest(spark, sf):
    # Grayscale-PNG thumbnail preprocess under bit-exact verification:
    # the r13 color-type-0 decode (bpp=1 filter reconstruction)
    # feeding the nearest-neighbor 6x8 resize — the same
    # transform-tier certificate mm_png_resize_nearest carries for
    # truecolor, on the single-channel profile (k in range(48):
    # rr = k div 8, cc = k mod 8; src cell ((rr*h) div 6,
    # (cc*w) div 8)). Map-only mapInPandas pass.
    from yougile_etl_pipeline_spark.operators.multimodal import (
        png_resize_stats,
        synth_png_gray_payloads,
    )

    ev = load_table(spark, sf, "events").select("event_id")
    return png_resize_stats(synth_png_gray_payloads(ev, "event_id"), 6, 8)


@register("mm_png_rgba_flip_crop", """
WITH p AS (SELECT event_id AS id,
                  4 + event_id % 3 AS w, 3 + event_id % 4 AS h
           FROM events),
v AS (SELECT id, w, h,
  list_transform(range(0, 24), k ->
    (id + 11 * ((h - 2) // 2 + k // 12)
        + 5 * (w - 1 - ((w - 3) // 2 + (k % 12) // 4))
        + 3 * (k % 4)) % 256) AS px
  FROM p)
SELECT id AS media_id,
       CAST(w AS INTEGER) AS src_w, CAST(h AS INTEGER) AS src_h,
       CAST(list_sum(px) AS BIGINT) AS out_sum,
       CAST(list_min(px) AS INTEGER) AS out_min,
       CAST(list_max(px) AS INTEGER) AS out_max
FROM v
""")
def mm_png_rgba_flip_crop(spark, sf):
    # Augmentation pair (mirror + centered 2x3 crop) on the r13 RGBA
    # decode — the alpha plane rides the flip/crop index arithmetic
    # exactly like a color channel, which is what this certifies
    # (k in range(24): rr = k div 12, cc = (k mod 12) div 4,
    # ch = k mod 4; flip c' = w-1-c, crop offsets (dim-crop) div 2).
    # Map-only mapInPandas pass.
    from yougile_etl_pipeline_spark.operators.multimodal import (
        png_flip_crop_stats,
        synth_png_rgba_payloads,
    )

    ev = load_table(spark, sf, "events").select("event_id")
    return png_flip_crop_stats(
        synth_png_rgba_payloads(ev, "event_id"), 2, 3)


@register("events_km_median_latency", """
WITH RECURSIVE u AS (
  SELECT user_id, min(epoch_ms(ts)) AS first_ms,
         min(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END)
           AS fp
  FROM events GROUP BY 1),
d AS (SELECT (fp - first_ms) // 3600000 AS dur
      FROM u WHERE fp IS NOT NULL
        AND (fp - first_ms) // 3600000 <= 48),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM u),
per AS (SELECT dur, CAST(count(*) AS BIGINT) AS deaths
        FROM d GROUP BY 1),
risk AS (SELECT dur, deaths,
  (SELECT n_users FROM n)
   - CAST(COALESCE(SUM(deaths) OVER (ORDER BY dur
       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
   AS at_risk
  FROM per),
r0 AS (SELECT dur, deaths, at_risk,
              row_number() OVER (ORDER BY dur) AS rn
       FROM risk),
km AS (
  SELECT rn, dur, at_risk,
         1000000000 * (at_risk - deaths) // at_risk AS s
  FROM r0 WHERE rn = 1
  UNION ALL
  SELECT nx.rn, nx.dur, nx.at_risk,
         km.s * (nx.at_risk - nx.deaths) // nx.at_risk
  FROM km JOIN r0 nx ON nx.rn = km.rn + 1),
m AS (SELECT min(dur) AS md FROM km WHERE s <= 500000000)
SELECT km.dur AS median_dur_hours, km.s AS survival_fp,
       (SELECT n_users FROM n) AS n_users
FROM km JOIN m ON km.dur = m.md
""")
def events_km_median_latency(spark, sf):
    # The KM median: the first duration where the r13
    # events_survival_km curve crosses S(t) ≤ 0.5 — the
    # censoring-correct "median time to convert" (a plain median over
    # converters only would be biased early by ignoring the censored
    # mass). Built ON the registered KM entry's output — the engine's
    # own compositionality is the point — plus one broadcast of the
    # user count; the oracle restates the recursive-CTE chain.
    from yougile_etl_pipeline_spark.registry_base import QUERIES

    km = QUERIES["events_survival_km"](spark, sf)
    med = (km.filter(F.col("survival_fp") <= 500000000)
           .agg(F.min("dur").alias("md")))
    ev = load_table(spark, sf, "events").select("user_id")
    n = ev.select("user_id").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"))
    return (km.join(F.broadcast(med), km["dur"] == med["md"])
            .join(F.broadcast(n))
            .select(F.col("dur").alias("median_dur_hours"),
                    F.col("survival_fp"), "n_users"))


_BENFORD2_PPM = {0: 119679, 1: 113890, 2: 108821, 3: 104330,
                 4: 100308, 5: 96677, 6: 93375, 7: 90352,
                 8: 87570, 9: 84997}
_BENFORD2_CASE = ("CASE d " + " ".join(
    f"WHEN {d} THEN {p}" for d, p in _BENFORD2_PPM.items()) + " END")


@register("quality_benford2_chi2_gate", f"""
WITH o AS (
  SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(20,2)) * 100
              AS BIGINT) AS VARCHAR), 2, 1) AS INT) AS d
  FROM orders
  WHERE length(CAST(CAST(CAST(o_totalprice AS DECIMAL(20,2)) * 100
               AS BIGINT) AS VARCHAR)) >= 2),
oc AS (SELECT d, CAST(count(*) AS BIGINT) AS cnt FROM o GROUP BY 1),
c AS (SELECT d, obs, CAST({_BENFORD2_CASE} AS BIGINT) AS ppm FROM (
      SELECT dom.d AS d, CAST(COALESCE(oc.cnt, 0) AS BIGINT) AS obs
      FROM (SELECT CAST(range AS INT) AS d FROM range(0, 10)) dom
      LEFT JOIN oc ON dom.d = oc.d)),
t AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM c),
terms AS (
  SELECT d,
    (CAST(obs * 1000000 - t.n * ppm AS DOUBLE)
     * CAST(obs * 1000000 - t.n * ppm AS DOUBLE))
    / CAST(t.n * ppm * 1000000 AS DOUBLE) AS term
  FROM c, t),
folded AS (
  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(term ORDER BY d)), (acc, x) -> acc + x) AS chi2
  FROM terms)
SELECT t.n, folded.chi2, folded.chi2 > 16.919 AS reject_benford2
FROM t, folded
""")
def quality_benford2_chi2_gate(spark, sf):
    # Second-digit Benford test — the forensic-accounting companion
    # to the r12 first-digit gate (second digits are the standard
    # screen for INVENTED numbers and psychological price points,
    # flatter but still non-uniform: P(d) = Σ_d1 log10(1+1/(10·d1+d)),
    # held as integer-ppm LITERALS so no runtime log10). All ten
    # domain cells are charged their expected-count term via the
    # literal 0–9 domain left-join (the ADVICE-r12 lesson applied
    # from birth); 16.919 is the 5%/9-df critical value; the term
    # fold is digit-ordered (the benford/EWMA device).
    o = load_table(spark, sf, "orders").select(
        F.expr("CAST(CAST(CAST(o_totalprice AS DECIMAL(20,2)) * 100 "
               "AS BIGINT) AS STRING)").alias("s"))
    o = (o.filter(F.length("s") >= 2)
         .select(F.expr("CAST(substring(s, 2, 1) AS INT)").alias("d")))
    ppm_map = F.create_map(*[F.lit(x) for kv in _BENFORD2_PPM.items()
                             for x in kv])
    dom = spark.range(0, 10).select(F.col("id").cast("int").alias("d"))
    counts = (dom.join(o.groupBy("d").agg(
                  F.count(F.lit(1)).alias("cnt")), "d", "left")
              .select("d",
                      F.coalesce(F.col("cnt"), F.lit(0))
                      .cast("bigint").alias("obs"))
              .withColumn("ppm", ppm_map[F.col("d")].cast("bigint")))
    term = ("(CAST(obs * 1000000 - n * ppm AS DOUBLE) "
            "* CAST(obs * 1000000 - n * ppm AS DOUBLE)) "
            "/ CAST(n * ppm * 1000000 AS DOUBLE)")
    tot = counts.agg(F.sum("obs").cast("bigint").alias("n"),
                     F.sort_array(F.collect_list(
                         F.struct("d", "obs", "ppm"))).alias("rows"))
    per = (tot.select("n", F.explode("rows").alias("r"))
           .select("n", F.col("r.d").alias("d"),
                   F.col("r.obs").alias("obs"),
                   F.col("r.ppm").alias("ppm"))
           .withColumn("term", F.expr(term)))
    folded = (per.groupBy("n")
              .agg(F.sort_array(F.collect_list(
                  F.struct("d", "term"))).alias("ts"))
              .select("n", F.expr(
                  "aggregate(ts, CAST(0.0 AS DOUBLE), "
                  "(acc, t) -> acc + t.term)").alias("chi2")))
    return folded.select(
        "n", "chi2", (F.col("chi2") > 16.919).alias("reject_benford2"))


@register("agg_skewness_kurtosis", """
WITH b AS (SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS q
           FROM lineitem),
s AS (SELECT flag, CAST(count(*) AS BIGINT) AS n,
        CAST(SUM(q) AS BIGINT) AS s1,
        CAST(SUM(q * q) AS BIGINT) AS s2,
        CAST(SUM(q * q * q) AS BIGINT) AS s3,
        CAST(SUM(q * q * q * q) AS BIGINT) AS s4
      FROM b GROUP BY 1),
r AS (SELECT flag, n, s1, s2, s3, s4,
        CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
        CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
        CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
      FROM s),
m AS (SELECT flag, n, s1, s2, s3, s4,
        r2 - mean * mean AS m2,
        r3 - 3.0 * mean * r2 + 2.0 * mean * mean * mean AS m3,
        r4 - 4.0 * mean * r3 + 6.0 * mean * mean * r2
           - 3.0 * mean * mean * mean * mean AS m4
      FROM r)
SELECT flag, n, s1, s2, s3, s4,
       m3 / (m2 * sqrt(m2)) AS skewness,
       m4 / (m2 * m2) - 3.0 AS kurtosis_excess
FROM m
""")
def agg_skewness_kurtosis(spark, sf):
    # Exact third/fourth central moments per return flag from BIGINT
    # raw-moment sufficient statistics (q ≤ 50 keeps Σq⁴ under int64
    # through ~10^12 rows): the distribution-shape profile
    # (skewness, excess kurtosis) that the mean/median/percentile
    # entries cannot see. Every double materializes through the SAME
    # staged expressions in both engines — one division per raw
    # moment, then the central-moment polynomials, then
    # m3/(m2·sqrt(m2)) and m4/m2² − 3 (sqrt is IEEE-exact, so the
    # doubles hash-pair). Single flag-keyed aggregate, map-side
    # combined; the moment algebra runs on the |flags|-row relation.
    b = load_table(spark, sf, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("bigint").alias("q"))
    s = b.groupBy("flag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("s1"),
        F.sum(F.expr("q * q")).cast("bigint").alias("s2"),
        F.sum(F.expr("q * q * q")).cast("bigint").alias("s3"),
        F.sum(F.expr("q * q * q * q")).cast("bigint").alias("s4"))
    r = s.select(
        "flag", "n", "s1", "s2", "s3", "s4",
        F.expr("CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)").alias("mean"),
        F.expr("CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)").alias("r2"),
        F.expr("CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)").alias("r3"),
        F.expr("CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)").alias("r4"))
    m = r.select(
        "flag", "n", "s1", "s2", "s3", "s4",
        F.expr("r2 - mean * mean").alias("m2"),
        F.expr("r3 - 3.0D * mean * r2 + 2.0D * mean * mean * mean")
        .alias("m3"),
        F.expr("r4 - 4.0D * mean * r3 + 6.0D * mean * mean * r2 "
               "- 3.0D * mean * mean * mean * mean").alias("m4"))
    return m.select(
        "flag", "n", "s1", "s2", "s3", "s4",
        F.expr("m3 / (m2 * sqrt(m2))").alias("skewness"),
        F.expr("m4 / (m2 * m2) - 3.0D").alias("kurtosis_excess"))


@register("sample_temperature_curve", """
WITH w AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_before
           FROM documents GROUP BY lang),
mn AS (SELECT MIN(n_before) AS w_min FROM w),
temps AS (SELECT CAST(range AS BIGINT) AS temperature
          FROM range(1, 5) WHERE range IN (1, 2, 4)),
r AS (SELECT lang, n_before, temperature,
        CAST(floor(10000 * (CASE temperature
          WHEN 1 THEN CAST(w_min AS DOUBLE) / CAST(n_before AS DOUBLE)
          WHEN 2 THEN sqrt(CAST(w_min AS DOUBLE)
                           / CAST(n_before AS DOUBLE))
          ELSE sqrt(sqrt(CAST(w_min AS DOUBLE)
                         / CAST(n_before AS DOUBLE))) END))
             AS BIGINT) AS rate_q
      FROM w CROSS JOIN mn CROSS JOIN temps),
k AS (SELECT d.lang, r.temperature, CAST(count(*) AS BIGINT) AS n_after
      FROM documents d JOIN r USING (lang)
      WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                 AS BIGINT) % 10000 < r.rate_q
      GROUP BY d.lang, r.temperature)
SELECT r.lang, r.temperature, r.n_before, r.rate_q,
       CAST(COALESCE(k.n_after, 0) AS BIGINT) AS n_after
FROM r LEFT JOIN k ON r.lang = k.lang
                  AND r.temperature = k.temperature
""")
def sample_temperature_curve(spark, sf):
    # The temperature-mixture KNOB CURVE: per-language keep rates and
    # realized counts at T ∈ {1, 2, 4} in one query — T=1 is the
    # equal-mix limit (rate = w_min/w_g), T=2 the certified
    # sample_temperature_mixture point (sqrt), T=4 two NESTED exact
    # sqrts ((w_min/w_g)^0.25) — so every exponent on the curve stays
    # IEEE-exact with zero transcendentals (the pow(x, 1/T) a naive
    # implementation reaches for is not bit-stable across engines).
    # The md5 bucket per doc is computed ONCE and compared to the
    # three broadcast rates; one corpus scan, one (lang, T)-keyed
    # aggregate over ≤ 3·|langs| keys.
    from yougile_etl_pipeline_spark.operators.quality import hash_bucket

    docs = load_table(spark, sf, "documents").select("lang", "doc_id")
    w = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_before"))
    mn = w.agg(F.min("n_before").alias("w_min"))
    temps = spark.range(1, 5).filter(F.col("id").isin(1, 2, 4)).select(
        F.col("id").cast("bigint").alias("temperature"))
    ratio = "CAST(w_min AS DOUBLE) / CAST(n_before AS DOUBLE)"
    r = (w.crossJoin(F.broadcast(mn)).crossJoin(F.broadcast(temps))
         .select("lang", "n_before", "temperature",
                 F.expr(f"CAST(floor(10000 * (CASE temperature "
                        f"WHEN 1 THEN {ratio} "
                        f"WHEN 2 THEN sqrt({ratio}) "
                        f"ELSE sqrt(sqrt({ratio})) END)) AS BIGINT)")
                 .alias("rate_q")))
    kept = (docs.join(F.broadcast(r), "lang")
            .filter(hash_bucket("doc_id", 10000) < F.col("rate_q"))
            .groupBy("lang", "temperature")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_after")))
    return (r.join(kept, ["lang", "temperature"], "left")
            .select("lang", "temperature", "n_before", "rate_q",
                    F.coalesce("n_after", F.lit(0)).cast("bigint")
                    .alias("n_after")))


_MKV_PROBE = 4


def _markov_conv_oracle() -> str:
    # registry_r12's chain, read at step 4 AND step 8 for their
    # total-variation distance.
    return _markov_chain_sql() + f"""
SELECT CAST(count(*) AS BIGINT) AS n_states,
       CAST(SUM(ABS(COALESCE(a.x, 0) - COALESCE(b.x, 0))) // 2
            // 1000000 AS BIGINT) AS tv_probe_ppm,
       SUM(ABS(COALESCE(a.x, 0) - COALESCE(b.x, 0))) // 2
         // 1000000 < 5000 AS converged
FROM it{_MKV_PROBE} a FULL OUTER JOIN it{_MARKOV_ITERS} b USING (type)
"""


@register("events_markov_convergence", _markov_conv_oracle())
def events_markov_convergence(spark, sf):
    # Mixing-speed gate for the behavioral transition chain: the
    # total-variation distance (in ppm of the 1e12 fixed-point mass)
    # between the power iterate at step 4 and at step 8 — if the
    # chain has mixed by step 4, the stationary readout
    # (events_markov_stationary) is trustworthy; a large gap means
    # the 8-step fixed-point is still moving and the steady-state
    # interpretation is premature. Same cap-ENFORCED collected
    # iteration as the stationary entry (the type-domain matrix is a
    # handful of int64s; distributing 8 join+agg rounds over it would
    # be pure exchange overhead), same bit-exact integer div
    # arithmetic as the unrolled-CTE oracle.
    from pyspark.sql import types as T
    from pyspark.sql.window import Window

    ev = load_table(spark, sf, "events").select(
        "user_id", F.unix_millis("ts").alias("ms"), "event_id",
        "event_type")
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    tr = (ev.withColumn("nxt", F.lead("event_type").over(w))
          .filter(F.col("nxt").isNotNull())
          .groupBy(F.col("event_type").alias("from_type"),
                   F.col("nxt").alias("to_type"))
          .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")))
    edges = tr.collect()  # |types|²-bounded, cap-enforced below
    if len(edges) > 10_000:
        raise ValueError(
            f"transition matrix has {len(edges)} edges — the type "
            "domain is not iteration-sized; aggregate types first")
    row_total: dict[str, int] = {}
    for e in edges:
        row_total[e.from_type] = row_total.get(e.from_type, 0) + e.cnt
    states = sorted(row_total)
    x = {t: _MARKOV_S // len(states) for t in states}
    snap4: dict[str, int] = {}
    for it in range(1, _MARKOV_ITERS + 1):
        nxt: dict[str, int] = {}
        for e in edges:
            # Mirror the oracle's recursive-CTE JOIN semantics: an
            # edge only contributes when its from_type is present in
            # the previous iterate's support (ADVICE r13: x.get(...,
            # 0) would create zero-valued to_type keys for states
            # that dropped out, diverging the it4/it8 key sets from
            # the oracle on source-only-type corpora).
            if e.from_type not in x:
                continue
            nxt[e.to_type] = (nxt.get(e.to_type, 0)
                              + x[e.from_type] * e.cnt
                              // row_total[e.from_type])
        x = nxt
        if it == _MKV_PROBE:
            snap4 = dict(x)
    keys = sorted(set(snap4) | set(x))
    tv = sum(abs(snap4.get(k, 0) - x.get(k, 0)) for k in keys) // 2
    tv_ppm = tv // 1000000
    schema = T.StructType([
        T.StructField("n_states", T.LongType()),
        T.StructField("tv_probe_ppm", T.LongType()),
        T.StructField("converged", T.BooleanType())])
    return spark.createDataFrame(
        [(len(keys), tv_ppm, tv_ppm < 5000)], schema)


@register("mm_wav_silence_trim", """
WITH ids AS (SELECT event_id AS id FROM events),
v AS (SELECT id, 50 + id % 100 AS n FROM ids),
l AS (SELECT id, n,
  list_filter(range(0, CAST(n AS BIGINT)),
    i -> abs((id * 31 + i * 17) % 65536 - 32768) >= 24576) AS loud
  FROM v)
SELECT id AS media_id, CAST(n AS INTEGER) AS n_frames,
  CAST(CASE WHEN len(loud) = 0 THEN -1 ELSE loud[1] END AS BIGINT)
    AS first_loud,
  CAST(CASE WHEN len(loud) = 0 THEN -1 ELSE loud[len(loud)] END
       AS BIGINT) AS last_loud,
  CAST(CASE WHEN len(loud) = 0 THEN 0
       ELSE loud[len(loud)] - loud[1] + 1 END AS BIGINT) AS trimmed_len,
  CAST(CASE WHEN len(loud) = 0 THEN 0
       ELSE list_sum(list_transform(
              range(loud[1], loud[len(loud)] + 1),
              i -> abs((id * 31 + i * 17) % 65536 - 32768))) END
       AS BIGINT) AS trimmed_abs_sum
FROM l
""")
def mm_wav_silence_trim(spark, sf):
    # Edge-silence trim over REAL WAV decodes — the speech-pipeline
    # preprocess (cut leading/trailing frames below |24576|, ~75% of
    # the synthetic signal's sample space, so trims are non-trivial
    # on most payloads) with the kept range's bounds and exact
    # |sample| sum stated in closed form by the oracle. All-quiet
    # payloads report -1/-1/0/0 instead of vanishing. Map-only
    # mapInPandas on the same RIFF-validated decode path as
    # mm_wav_stats.
    from yougile_etl_pipeline_spark.operators.multimodal import (
        synth_wav_payloads,
        wav_trim_stats,
    )

    ev = load_table(spark, sf, "events").select("event_id")
    return wav_trim_stats(synth_wav_payloads(ev, "event_id"))


@register("mart_discount_effectiveness", """
WITH b AS (
  SELECT CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
         CAST(l_quantity AS BIGINT) AS qty,
         CAST(CAST(l_extendedprice AS DECIMAL(20,2)) * 100 AS BIGINT)
           AS cents
  FROM lineitem)
SELECT disc_pct,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(SUM(qty) AS BIGINT) AS total_qty,
       CAST(SUM(cents * (100 - disc_pct)) AS BIGINT) AS revenue_c100,
       CAST(SUM(qty) * 100 // count(*) AS BIGINT) AS qty_per_line_x100
FROM b GROUP BY 1
""")
def mart_discount_effectiveness(spark, sf):
    # Discount-band effectiveness mart: per discount percent, line
    # volume, unit volume, EXACT discounted revenue in cents×100
    # (cents · (100 − pct) — BIGINT end to end, no floating revenue),
    # and average units per line in exact hundredths — does a deeper
    # discount actually move more units? Single band-keyed aggregate,
    # map-side combined; the band domain is ≤ 11 keys.
    b = load_table(spark, sf, "lineitem").select(
        F.expr("CAST(round(l_discount * 100) AS BIGINT)")
        .alias("disc_pct"),
        F.col("l_quantity").cast("bigint").alias("qty"),
        F.expr("CAST(CAST(l_extendedprice AS DECIMAL(20,2)) * 100 "
               "AS BIGINT)").alias("cents"))
    return (b.groupBy("disc_pct")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_lines"),
                 F.sum("qty").cast("bigint").alias("total_qty"),
                 F.sum(F.expr("cents * (100 - disc_pct)"))
                 .cast("bigint").alias("revenue_c100"),
                 F.expr("SUM(qty) * 100 div count(*)")
                 .alias("qty_per_line_x100")))


@register("graph_double_sweep_diameter", """
WITH RECURSIVE d0 AS (
  SELECT DISTINCT doc_id % 40 AS x, (doc_id * 7 + 3) % 40 AS y
  FROM documents WHERE doc_id % 40 <> (doc_id * 7 + 3) % 40),
e0 AS (SELECT x AS a, y AS b FROM d0 UNION SELECT y, x FROM d0),
s0 AS (SELECT min(a) AS node FROM e0),
b1(node, layer) AS (
  SELECT node, 0 FROM s0
  UNION
  SELECT e0.b, b1.layer + 1 FROM b1 JOIN e0 ON e0.a = b1.node
  WHERE b1.layer < 8),
l1 AS (SELECT node, MIN(layer) AS layer FROM b1 GROUP BY 1),
far AS (SELECT node FROM l1 ORDER BY layer DESC, node LIMIT 1),
b2(node, layer) AS (
  SELECT node, 0 FROM far
  UNION
  SELECT e0.b, b2.layer + 1 FROM b2 JOIN e0 ON e0.a = b2.node
  WHERE b2.layer < 8),
l2 AS (SELECT node, MIN(layer) AS layer FROM b2 GROUP BY 1)
SELECT (SELECT node FROM s0) AS seed_node,
       (SELECT MAX(layer) FROM l1) AS ecc_seed,
       (SELECT node FROM far) AS far_node,
       (SELECT MAX(layer) FROM l2) AS diameter_lb
""")
def graph_double_sweep_diameter(spark, sf):
    # Double-sweep diameter lower bound (the classic BFS heuristic
    # that is EXACT on trees and near-exact on real graphs): BFS from
    # the minimum node id, hop to the farthest node found (tie → min
    # id), BFS again — the second eccentricity bounds the diameter
    # from below with exactly TWO sweeps instead of all-pairs. Both
    # sweeps run the certified bfs_layers primitive (min-hop layers,
    # per-round equi-join + distinct + anti-join, lineage
    # checkpointed); the far-node pick is TakeOrdered on the
    # node-domain relation and feeds the second sweep as a SEED
    # DATAFRAME — no driver collect anywhere. rounds=8 caps both
    # engines identically (the 40-node synthetic graph's true
    # diameter is far below it).
    from yougile_etl_pipeline_spark.operators.graph import bfs_layers

    d = load_table(spark, sf, "documents")
    edges = d.select((F.col("doc_id") % 40).alias("src"),
                     ((F.col("doc_id") * 7 + 3) % 40).alias("dst")) \
             .filter(F.col("src") != F.col("dst"))
    s0 = (edges.select(F.explode(F.array("src", "dst")).alias("node"))
          .agg(F.min("node").alias("node")))
    l1 = bfs_layers(edges, s0, rounds=8)
    far = (l1.orderBy(F.col("layer").desc(), "node").limit(1)
           .select("node"))
    l2 = bfs_layers(edges, far, rounds=8)
    return (s0.select(F.col("node").alias("seed_node"))
            .join(F.broadcast(l1.agg(F.max("layer").alias("ecc_seed"))))
            .join(F.broadcast(far.select(F.col("node")
                                         .alias("far_node"))))
            .join(F.broadcast(l2.agg(F.max("layer")
                                     .alias("diameter_lb")))))


@register("mm_bmp_topdown_stats", """
WITH p AS (SELECT event_id AS id,
                  5 + event_id % 4 AS w, 4 + event_id % 3 AS h
           FROM events),
v AS (SELECT id, w, h,
  list_transform(range(0, CAST(w * h * 3 AS BIGINT)), k ->
    (id + 8 * (k // (w * 3)) + 5 * ((k % (w * 3)) // 3)
        + 2 * (k % 3)) % 256) AS px,
  list_transform(range(0, CAST(w * h * 3 AS BIGINT)), k ->
    (k // (w * 3) + 1)
      * ((id + 8 * (k // (w * 3)) + 5 * ((k % (w * 3)) // 3)
          + 2 * (k % 3)) % 256)) AS wpx
  FROM p)
SELECT id AS media_id,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(list_sum(px) AS BIGINT) AS px_sum,
       CAST(list_sum(wpx) AS BIGINT) AS row_weighted_sum
FROM v
""")
def mm_bmp_topdown_stats(spark, sf):
    # TOP-DOWN BMP (negative height field, rows stored in logical
    # order — the in-the-wild orientation variant): the decoders'
    # h_raw < 0 branch has existed since r06 but no certified entry
    # ever exercised it. The statistic is ROW-WEIGHTED because a
    # plain pixel sum is orientation-invariant — reading a top-down
    # file bottom-up flips the rows and only the (r+1) weighting can
    # tell. Map-only mapInPandas pass.
    from yougile_etl_pipeline_spark.operators.multimodal import (
        bmp_rowsum_stats,
        synth_bmp_topdown_payloads,
    )

    ev = load_table(spark, sf, "events").select("event_id")
    return bmp_rowsum_stats(synth_bmp_topdown_payloads(ev, "event_id"))


@register("mm_wav_stereo_stats", """
WITH ids AS (SELECT event_id AS id FROM events),
v AS (SELECT id, 40 + id % 60 AS n FROM ids)
SELECT id AS media_id, CAST(n AS BIGINT) AS n_frames,
  CAST(list_sum(list_transform(range(0, CAST(n AS BIGINT)),
    i -> (id * 13 + i * 11) % 65536 - 32768)) AS BIGINT) AS left_sum,
  CAST(list_sum(list_transform(range(0, CAST(n AS BIGINT)),
    i -> (id * 17 + i * 23) % 65536 - 32768)) AS BIGINT) AS right_sum,
  CAST(list_sum(list_transform(range(0, CAST(n AS BIGINT)),
    i -> ((id * 13 + i * 11) % 65536 - 32768)
         * ((id * 13 + i * 11) % 65536 - 32768))) AS BIGINT)
    AS left_sumsq,
  CAST(list_sum(list_transform(range(0, CAST(n AS BIGINT)),
    i -> ((id * 17 + i * 23) % 65536 - 32768)
         * ((id * 17 + i * 23) % 65536 - 32768))) AS BIGINT)
    AS right_sumsq
FROM v
""")
def mm_wav_stereo_stats(spark, sf):
    # STEREO WAV with per-channel statistics: the frame-major
    # de-interleave (s[0::2]/s[1::2]) is what this certifies —
    # mm_wav_stats' whole-stream sums are interleave-invariant and
    # could not catch swapped or merged channels, so each channel
    # carries a DISTINCT closed-form signal. Map-only mapInPandas on
    # the same RIFF-validated decode path.
    from yougile_etl_pipeline_spark.operators.multimodal import (
        synth_wav_stereo_payloads,
        wav_channel_stats,
    )

    ev = load_table(spark, sf, "events").select("event_id")
    return wav_channel_stats(synth_wav_stereo_payloads(ev, "event_id"))


_RT_Z = """CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 > 1 THEN
 (CAST(runs AS DOUBLE)
  - (1.0 + 2.0 * (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
       / CAST(n1 + n2 AS DOUBLE)))
 / sqrt((2.0 * (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
    * (2.0 * (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
       - CAST(n1 + n2 AS DOUBLE)))
   / ((CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE))
      * CAST(n1 + n2 - 1 AS DOUBLE)))
 ELSE 0.0 END"""


@register("quality_runs_test_gate", f"""
WITH d AS (SELECT epoch_ms(ts) // 86400000 AS day,
                  CAST(count_if(event_type = 'error') AS BIGINT)
                    * 1000000 // CAST(count(*) AS BIGINT) AS ppm
           FROM events GROUP BY 1),
m AS (SELECT ppm AS med FROM d ORDER BY ppm
      OFFSET (SELECT (count(*) + 1) // 2 - 1 FROM d) LIMIT 1),
s AS (SELECT day, ppm > (SELECT med FROM m) AS above
      FROM d WHERE ppm <> (SELECT med FROM m)),
r0 AS (SELECT above, lag(above) OVER (ORDER BY day) AS prev FROM s),
st AS (SELECT
         CAST(count_if(prev IS NULL OR above <> prev) AS BIGINT)
           AS runs,
         CAST(count_if(above) AS BIGINT) AS n1,
         CAST(count_if(NOT above) AS BIGINT) AS n2
       FROM r0)
SELECT runs, n1, n2, {_RT_Z} AS z, abs({_RT_Z}) > 1.96 AS clustered
FROM st
""")
def quality_runs_test_gate(spark, sf):
    # Wald–Wolfowitz runs test on the daily error-rate sequence:
    # days are classified above/below the LOWER MEDIAN ppm (an exact
    # integer — no interpolation parity surface; ties at the median
    # are excluded, the standard treatment) and the number of RUNS of
    # same-side days is compared to its randomness expectation. Too
    # few runs = error rates CLUSTER (incidents span days, the SLO
    # assumption of independent days is wrong); too many = negative
    # autocorrelation (overcorrecting rollbacks). Sufficient
    # statistics are BIGINT; z is one fixed-operand double (the
    # ab_lift device). Day-domain relation throughout — the lag
    # window orders ~30 rows, never events.
    from pyspark.sql.window import Window

    ev = load_table(spark, sf, "events").select(
        F.expr("unix_millis(ts) div 86400000").alias("day"),
        "event_type")
    d = (ev.groupBy("day")
         .agg(F.expr("CAST(count_if(event_type = 'error') AS BIGINT) "
                     "* 1000000 div count(*)").alias("ppm")))
    n_days = d.count()  # day-domain scalar, bounded by the time span
    med = (d.orderBy("ppm").offset((n_days + 1) // 2 - 1).limit(1)
           .select(F.col("ppm").alias("med")))
    s = (d.join(F.broadcast(med))
         .filter(F.col("ppm") != F.col("med"))
         .select("day", (F.col("ppm") > F.col("med")).alias("above")))
    w = Window.orderBy("day")
    r0 = s.select("above", F.lag("above").over(w).alias("prev"))
    st = r0.agg(
        F.expr("CAST(count_if(prev IS NULL OR above <> prev) AS BIGINT)")
        .alias("runs"),
        F.count_if("above").cast("bigint").alias("n1"),
        F.count_if(~F.col("above")).cast("bigint").alias("n2"))
    z = F.expr(_RT_Z.replace("0.0 END", "0.0D END"))
    return st.select("runs", "n1", "n2", z.alias("z"),
                     (F.abs(z) > 1.96).alias("clustered"))


# registry_ext._ivf_assign_sql(nprobe=1) without the vector column,
# with the ORDER BY wrapped differently; kept as is so the certified
# oracle text does not change.
_IVF_ASSIGN = f"""
  SELECT v, centroid_id FROM (
    SELECT v, centroid_id,
           row_number() OVER (PARTITION BY v
                              ORDER BY {_CSIM.format(a='cv', b='cent_vec')}
                                       DESC, centroid_id) AS rn
    FROM csrc CROSS JOIN ({_IVF_CENT})
  ) WHERE rn <= 1"""


@register("sim_ivf_cluster_balance", f"""
WITH csrc AS (SELECT vec_id AS v, embedding::DOUBLE[] AS cv
              FROM embeddings),
ca AS ({_IVF_ASSIGN}),
sz AS (SELECT centroid_id, CAST(count(*) AS BIGINT) AS n
       FROM ca GROUP BY 1),
k AS (SELECT CAST({_IVF_NCENT} AS BIGINT) AS n_centroids),
t AS (SELECT CAST(count(*) AS BIGINT) AS n_vectors FROM csrc)
SELECT (SELECT n_centroids FROM k) AS n_centroids,
       (SELECT n_vectors FROM t) AS n_vectors,
       CAST(MIN(n) AS BIGINT) AS min_size,
       CAST(MAX(n) AS BIGINT) AS max_size,
       CAST(MAX(n) * (SELECT n_centroids FROM k) * 100
            // (SELECT n_vectors FROM t) AS BIGINT) AS imbalance_x100,
       CAST((SELECT n_centroids FROM k) - count(*) AS BIGINT)
         AS empty_clusters
FROM sz
""")
def sim_ivf_cluster_balance(spark, sf):
    # IVF LOAD-BALANCE gate — the ANN ops metric the recall gates
    # don't see: probe latency and partition skew follow the inverted
    # LIST SIZES, not recall, so a production IVF needs the size
    # distribution asserted (imbalance_x100 = max list vs the ideal
    # n/k, ×100; empty lists waste probes). Same √N deterministic
    # prefix centroids as the certified sim_ivf_topk family; the
    # corpus assigns via the broadcast-argmax (struct-max, map-side —
    # never a window over |corpus|×|centroids| rows), then one
    # centroid-keyed count. At 100 TB this is exactly the report you
    # run before choosing the partition layout of the posting lists.
    import math

    from yougile_etl_pipeline_spark.operators.similarity import ivf_assign

    emb = load_table(spark, sf, "embeddings")
    n = table_row_count(sf, "embeddings")  # footer-stat scalar (_IVF_NCENT)
    k = int(round(math.sqrt(n)))
    cents = emb.filter(F.col("vec_id") < k)
    asg = ivf_assign(emb, cents)
    sz = asg.groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"))
    return sz.agg(
        F.lit(k).cast("bigint").alias("n_centroids"),
        F.lit(n).cast("bigint").alias("n_vectors"),
        F.min("n").cast("bigint").alias("min_size"),
        F.max("n").cast("bigint").alias("max_size"),
        F.expr(f"CAST(MAX(n) * {k} * 100 div {n} AS BIGINT)")
        .alias("imbalance_x100"),
        (F.lit(k) - F.count(F.lit(1))).cast("bigint")
        .alias("empty_clusters"))


# ---------------------------------------------------------------------------
# Capped exact-substring removal (mid-round r14 registration —
# VERDICT r13 #3: the actionable dup-span variant must carry the
# max_gram_df hot-gram escape hatch its scoring sibling has;
# operators/text.py::dup_span_removal, tests/test_dup_removal.py)
# ---------------------------------------------------------------------------

_DSRC_N = 5
_DSRC_CAP = 3


@register("text_dup_span_removal_capped", f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
ex AS (
  SELECT doc_id, s,
         md5(array_to_string(toks[s:s+{_DSRC_N - 1}], ' ')) AS fp
  FROM t, LATERAL (SELECT unnest(range(1,
           greatest(len(toks) - {_DSRC_N} + 1, 0) + 1)) AS s) ls),
debut AS (SELECT fp, min(doc_id) AS d0,
                 count(DISTINCT doc_id) AS nd
          FROM ex GROUP BY 1),
cov AS (
  SELECT doc_id, list_distinct(flatten(list(pr))) AS cov
  FROM (
    SELECT e.doc_id,
           list_transform(range(e.s, e.s + {_DSRC_N}), x -> x) AS pr
    FROM ex e JOIN debut d USING (fp)
    WHERE d.d0 < e.doc_id AND d.nd <= {_DSRC_CAP})
  GROUP BY 1),
hot AS (SELECT DISTINCT e.doc_id
        FROM ex e JOIN debut d USING (fp)
        WHERE d.d0 < e.doc_id AND d.nd > {_DSRC_CAP})
SELECT t.doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(CASE WHEN hot.doc_id IS NOT NULL THEN len(t.toks)
            ELSE COALESCE(len(cov.cov), 0) END AS BIGINT) AS n_removed,
       CASE WHEN hot.doc_id IS NOT NULL THEN ''
            ELSE COALESCE(array_to_string(
              list_filter(
                list_transform(range(1, len(t.toks) + 1),
                               i -> CASE WHEN cov.cov IS NULL
                                           OR NOT list_contains(cov.cov, i)
                                         THEN t.toks[i] END),
                x -> x IS NOT NULL), ' '), '') END AS clean_text
FROM t LEFT JOIN cov USING (doc_id) LEFT JOIN hot USING (doc_id)
""")
def text_dup_span_removal_capped(spark, sf):
    # dup_span_removal with the boilerplate-gram cap ON (cap=3, the
    # same knob value the r13 cap-audit entry measures for coverage):
    # a gram duplicated across >3 distinct docs removes every NON-
    # DEBUT doc containing it whole, skipping its positional span
    # machinery; grams in the honest 2..3 band pay exact span unions.
    # The SQL twin states the cap semantics independently (nd
    # computed in the debut CTE, hot docs via an EXISTS-style
    # distinct join).
    from yougile_etl_pipeline_spark.operators.text import (
        dup_span_removal,
    )

    return dup_span_removal(load_table(spark, sf, "documents"),
                            n=_DSRC_N, max_gram_df=_DSRC_CAP)
