package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.ops.Relational.dsum
import graft.queries.Bases.{dailyMass, dailyMassSql}

/** Round-10 batch 16: volatility and complexity operators — Engle's
  * ARCH LM test, spectral entropy, and sample entropy — each
  * oracle-checked bit-for-bit against DuckDB.
  */
object ComplexityQueries {

  def all: Seq[Q] = Seq(

    // Engle's ARCH LM test (Econometrica'82) — does yesterday's shock
    // size predict today's (volatility clustering)? Per type: daily
    // changes in whole dollars (the q382 scale discipline keeps e⁴
    // inside DECIMAL(38,0)), squared-change pairs (e²_t, e²_{t−1})
    // from one type-PARTITIONED lag pass, LM = n·R² from exact
    // moments — the heteroskedasticity screen beside q381's
    // Durbin-Watson (serial correlation in LEVELS vs in VARIANCE).
    Q("q452_arch_lm", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        lg AS (
          SELECT event_type, day, v,
            lag(v) OVER (PARTITION BY event_type ORDER BY day) AS v1
          FROM d),
        e AS (
          SELECT event_type, day,
            CAST(floor((v - v1) / 10000.0 + 0.5) AS BIGINT) AS ch
          FROM lg WHERE v1 IS NOT NULL),
        sq AS (
          SELECT event_type, ch * ch AS y,
            lag(ch * ch) OVER (PARTITION BY event_type ORDER BY day)
              AS x
          FROM e),
        m AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
            CAST(sum(CAST(x AS HUGEINT) * x) AS DECIMAL(38,0)) AS qxx,
            CAST(sum(CAST(y AS HUGEINT) * y) AS DECIMAL(38,0)) AS qyy,
            CAST(sum(CAST(x AS HUGEINT) * y) AS DECIMAL(38,0)) AS qxy
          FROM sq WHERE x IS NOT NULL GROUP BY 1),
        f AS (
          SELECT event_type, n,
            (n * CAST(qxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy) AS num,
            (n * CAST(qxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
              * (n * CAST(qyy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)
              AS den
          FROM m),
        g AS (
          SELECT event_type, n,
            CASE WHEN den > 0 THEN num * num / den END AS r2
          FROM f)
        SELECT event_type, n AS n_obs, round(r2, 6) AS r2,
          round(n * r2, 6) AS arch_lm
        FROM g ORDER BY event_type"""))(
      (s, dir) => {
        val d = dailyMass(s, dir)
        val w = Window.partitionBy("event_type").orderBy("day")
        val lg = d.select(col("event_type"), col("day"), col("v"),
          lag(col("v"), 1).over(w).as("v1"))
        val e = lg.where(col("v1").isNotNull)
          .select(col("event_type"), col("day"),
            floor((col("v") - col("v1")) / 10000.0 + 0.5).cast("long")
              .as("ch"))
        val sq = e.select(col("event_type"),
          (col("ch") * col("ch")).as("y"),
          lag(col("ch") * col("ch"), 1).over(w).as("x"))
        val m = sq.where(col("x").isNotNull)
          .groupBy("event_type").agg(count(lit(1)).as("n"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x").cast("decimal(19,0)") * col("x"))
              .cast("decimal(38,0)").as("qxx"),
            sum(col("y").cast("decimal(19,0)") * col("y"))
              .cast("decimal(38,0)").as("qyy"),
            sum(col("x").cast("decimal(19,0)") * col("y"))
              .cast("decimal(38,0)").as("qxy"))
        val nD = col("n").cast("double")
        val dxy = nD * col("qxy").cast("double") -
          col("sx").cast("double") * col("sy")
        // constant squared-changes make either variance term zero —
        // NULL-degenerate like q454 instead of NaN/Inf on the wire
        // (ADVICE r10)
        val den = (nD * col("qxx").cast("double")
            - col("sx").cast("double") * col("sx")) *
          (nD * col("qyy").cast("double")
            - col("sy").cast("double") * col("sy"))
        val f = m.select(col("event_type"), col("n"),
          when(den > 0, dxy * dxy / den).as("r2"))
        f.select(col("event_type"), col("n").as("n_obs"),
            round(col("r2"), 6).as("r2"),
            round(col("n") * col("r2"), 6).as("arch_lm"))
          .orderBy("event_type")
      }),

    // Spectral entropy (Inouye et al. '91; the tsfeatures
    // forecastability score) — how concentrated is each type's
    // spectrum? Reuses q419's exact-deviation rounded-trig Fourier
    // machinery at k = 1..5, normalizes the powers, H = −Σ p̂·ln p̂
    // with the q149 ln discipline, H_norm = H/ln 5 ∈ [0,1] (0 = one
    // pure cycle = forecastable; 1 = flat = noise). The dominant
    // harmonic comes out beside it with a deterministic argmax.
    Q("q453_spectral_entropy", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        i AS (
          SELECT event_type, v,
            CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
              AS BIGINT) AS t
          FROM d),
        m AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(v) AS BIGINT) AS sv
          FROM i GROUP BY 1),
        dev AS (
          SELECT i.event_type, i.t, m.n, m.n * i.v - m.sv AS e
          FROM i JOIN m ON m.event_type = i.event_type),
        ks AS (SELECT unnest(range(1, 6)) AS k),
        terms AS (
          SELECT event_type, k, n,
            CAST(round(e * round(cos(2 * pi() * k * t / n), 6), 0)
              AS DECIMAL(38,0)) AS tc,
            CAST(round(e * round(sin(2 * pi() * k * t / n), 6), 0)
              AS DECIMAL(38,0)) AS ts
          FROM dev, ks),
        f AS (
          SELECT event_type, CAST(k AS BIGINT) AS k,
            CAST(sum(tc) AS DOUBLE) AS a, CAST(sum(ts) AS DOUBLE) AS b
          FROM terms GROUP BY 1, 2),
        p AS (
          SELECT event_type, k, a * a + b * b AS pw FROM f),
        tot AS (
          SELECT event_type,
            CAST(sum(CAST(round(pw, 0) AS DECIMAL(38,0))) AS DOUBLE)
              AS tp
          FROM p GROUP BY 1),
        h AS (
          SELECT p.event_type,
            CAST(sum(CAST(round(
              -(p.pw / tot.tp) * round(ln(p.pw / tot.tp), 6), 8)
              AS DECIMAL(27,8))) AS DOUBLE) AS h
          FROM p JOIN tot ON tot.event_type = p.event_type
          WHERE p.pw > 0 GROUP BY 1),
        dom AS (
          SELECT event_type, k FROM (
            SELECT event_type, k,
              row_number() OVER (PARTITION BY event_type
                ORDER BY pw DESC, k) AS pick
            FROM p) WHERE pick = 1)
        SELECT h.event_type, round(h.h, 6) AS spectral_h,
          round(h.h / ln(5), 6) AS h_norm, dom.k AS dominant_k
        FROM h JOIN dom ON dom.event_type = h.event_type
        ORDER BY h.event_type"""))(
      (s, dir) => {
        val d = dailyMass(s, dir)
        val i = d.select(col("event_type"), col("v"),
          row_number().over(Window.partitionBy("event_type")
            .orderBy("day")).cast("long").as("t"))
        val m = i.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
        val dev = i.join(broadcast(m), "event_type")
          .select(col("event_type"), col("t"), col("n"),
            (col("n") * col("v") - col("sv")).as("e"))
        import s.implicits._
        val ks = broadcast((1 to 5).map(_.toLong).toDF("k"))
        val ang = lit(2) * lit(math.Pi) * col("k") * col("t") / col("n")
        val terms = dev.crossJoin(ks)
          .select(col("event_type"), col("k"),
            round(col("e") * round(cos(ang), 6), 0).cast("decimal(38,0)")
              .as("tc"),
            round(col("e") * round(sin(ang), 6), 0).cast("decimal(38,0)")
              .as("ts"))
        val f = terms.groupBy("event_type", "k")
          .agg(sum(col("tc")).cast("double").as("a"),
            sum(col("ts")).cast("double").as("b"))
        val p = f.select(col("event_type"), col("k"),
          (col("a") * col("a") + col("b") * col("b")).as("pw"))
        val tot = p.groupBy("event_type")
          .agg(sum(round(col("pw"), 0).cast("decimal(38,0)"))
            .cast("double").as("tp"))
        val h = p.join(broadcast(tot), "event_type")
          .where(col("pw") > 0)
          .groupBy("event_type")
          .agg(dsum(round(-(col("pw") / col("tp"))
            * round(log(col("pw") / col("tp")), 6), 8), 8).as("h"))
        val dom = p.select(col("event_type"), col("k"),
            row_number().over(Window.partitionBy("event_type")
              .orderBy(col("pw").desc, col("k"))).as("pick"))
          .where(col("pick") === 1)
          .select(col("event_type"), col("k").as("dominant_k"))
        h.join(dom, "event_type")
          .select(col("event_type"), round(col("h"), 6).as("spectral_h"),
            round(col("h") / log(lit(5.0)), 6).as("h_norm"),
            col("dominant_k"))
          .orderBy("event_type")
      }),

    // Sample entropy (Richman & Moorman AJP'00, m = 1) — the
    // regularity measure physiology runs on heartbeats, here on daily
    // revenue: B = #pairs with |x_i − x_j| < r, A = #pairs whose
    // SUCCESSORS also match, SampEn = −ln(A/B), r = 0.2σ (population σ
    // from exact moments). The pair sweep lives on the calendar-bounded
    // daily frame with successors attached by one type-PARTITIONED
    // lead pass; match tests compare exact integers against the one
    // double radius, so both engines count identical pairs. A = 0
    // degenerates to NULL, not −ln 0.
    Q("q454_sample_entropy", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        i AS (
          SELECT event_type, v,
            lead(v) OVER (PARTITION BY event_type ORDER BY day) AS vn,
            CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
              AS BIGINT) AS t
          FROM d),
        m AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(v) AS BIGINT) AS sv,
            CAST(sum(CAST(v AS HUGEINT) * v) AS DECIMAL(38,0)) AS q
          FROM d GROUP BY 1),
        r AS (
          SELECT event_type, n,
            0.2 * sqrt(CAST(n * q - CAST(sv AS HUGEINT) * sv AS DOUBLE))
              / n AS rad
          FROM m),
        pr AS (
          SELECT a.event_type,
            CAST(sum(CASE WHEN abs(a.v - b.v) < r.rad
              THEN 1 ELSE 0 END) AS BIGINT) AS b_cnt,
            CAST(sum(CASE WHEN abs(a.v - b.v) < r.rad
              AND a.vn IS NOT NULL AND b.vn IS NOT NULL
              AND abs(a.vn - b.vn) < r.rad THEN 1 ELSE 0 END) AS BIGINT)
              AS a_cnt
          FROM i a
          JOIN i b ON b.event_type = a.event_type AND b.t > a.t
          JOIN r ON r.event_type = a.event_type
          GROUP BY 1)
        SELECT pr.event_type, r.n AS n_days, pr.b_cnt, pr.a_cnt,
          CASE WHEN pr.a_cnt > 0
            THEN round(-ln(CAST(pr.a_cnt AS DOUBLE) / pr.b_cnt), 6)
            END AS sampen
        FROM pr JOIN r ON r.event_type = pr.event_type
        ORDER BY pr.event_type"""))(
      (s, dir) => {
        val d = dailyMass(s, dir)
        val w = Window.partitionBy("event_type").orderBy("day")
        val i = d.select(col("event_type"), col("v"),
          lead(col("v"), 1).over(w).as("vn"),
          row_number().over(w).cast("long").as("t"))
        val m = d.groupBy("event_type").agg(count(lit(1)).as("n"),
          sum(col("v")).as("sv"),
          sum(col("v").cast("decimal(19,0)") * col("v"))
            .cast("decimal(38,0)").as("q"))
        val r = m.select(col("event_type"), col("n"),
          (lit(0.2) * sqrt((col("n") * col("q")
            - col("sv").cast("decimal(19,0)") * col("sv")).cast("double"))
            / col("n")).as("rad"))
        val other = broadcast(i.select(col("event_type").as("et2"),
          col("v").as("v2"), col("vn").as("vn2"), col("t").as("t2")))
        val pr = i.join(other, col("et2") === col("event_type")
            && col("t2") > col("t"))
          .join(broadcast(r), "event_type")
          .groupBy("event_type")
          .agg(sum(when(abs(col("v") - col("v2")) < col("rad"), 1L)
            .otherwise(0L)).as("b_cnt"),
            sum(when(abs(col("v") - col("v2")) < col("rad")
              && col("vn").isNotNull && col("vn2").isNotNull
              && abs(col("vn") - col("vn2")) < col("rad"), 1L)
              .otherwise(0L)).as("a_cnt"))
        pr.join(broadcast(r.select(col("event_type"), col("n"))),
            "event_type")
          .select(col("event_type"), col("n").as("n_days"),
            col("b_cnt"), col("a_cnt"),
            when(col("a_cnt") > 0,
              round(-log(col("a_cnt").cast("double") / col("b_cnt")), 6))
              .as("sampen"))
          .orderBy("event_type")
      })
  )
}
