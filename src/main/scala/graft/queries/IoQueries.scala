package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.io.{Lake, Readers, Writers}

/** IO-layer queries: CSV and JSONL round-trips through `graft.io`
  * (SURVEY §2.1 S1/S2/S3/S6), oracled against the direct parquet table —
  * if the write+read path loses or mangles anything, the hash comparison
  * fails. Columns are strings/ints (doubles would test the text
  * formatter, not the reader contract).
  */
object IoQueries {

  private val oracle = """
      SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus
      FROM lineitem WHERE l_orderkey < 100
      ORDER BY l_orderkey, l_linenumber"""

  private val schema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType)))

  private def sample(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .where(col("l_orderkey") < 100)
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")

  def all: Seq[Q] = Seq(

    // S1/S2: CSV sink + header/escape reader round-trip.
    Q("q48_csv_roundtrip", Q.sql(oracle))(
      (s, dir) => {
        val path = Lake.scratch(s, "csv", dir)
        // escape must match Readers.csvQuoted (escape='"'); Spark's default
        // write escape is backslash, which that reader would mis-parse on
        // quote-bearing fields
        sample(s, dir).write
          .option("header", "true").option("escape", "\"").csv(path)
        Readers.csvQuoted(s, path, Some(schema))
          .orderBy("l_orderkey", "l_linenumber")
      }),

    // S3 (splittable variant): JSONL sink + reader round-trip.
    Q("q49_jsonl_roundtrip", Q.sql(oracle))(
      (s, dir) => {
        val path = Lake.scratch(s, "jsonl", dir)
        sample(s, dir).write.json(path)
        Readers.jsonLines(s, path, Some(schema))
          .orderBy("l_orderkey", "l_linenumber")
      }),

    // ORC sink + reader round-trip: the second columnar format (striped,
    // splittable, predicate-pushdown-capable like parquet) — Spark's
    // native orc reader/writer, oracled against the parquet source.
    Q("q201_orc_roundtrip", Q.sql(oracle))(
      (s, dir) => {
        val path = Lake.scratch(s, "orc", dir)
        sample(s, dir).write.orc(path)
        s.read.schema(schema).orc(path)
          .orderBy("l_orderkey", "l_linenumber")
      }),

    // Parquet + zstd codec round-trip: compression is a per-write codec
    // choice (zstd ≈ gzip ratio at snappy-class speed — the 100 TB
    // default worth flipping); the read path is codec-transparent.
    Q("q202_zstd_roundtrip", Q.sql(oracle))(
      (s, dir) => {
        val path = Lake.scratch(s, "zstd", dir)
        sample(s, dir).write.option("compression", "zstd").parquet(path)
        graft.io.Footers.read(s, path)
          .orderBy("l_orderkey", "l_linenumber")
      }),

    // Partition content checksums: per ship-month, the SUM of 48-bit
    // row-key hashes mod 2^48 plus the row count — an ORDER-INDEPENDENT,
    // mergeable fingerprint two replicas (or two engines, as the oracle
    // proves) can compare partition-by-partition without moving data:
    // the anti-entropy primitive of a replicated lake. Sums ride
    // DECIMAL(38) so they cannot wrap before the modulo on either
    // engine.
    Q("q283_partition_checksums", Q.sql(s"""
        WITH h AS (
          SELECT CAST(year(CAST(l_shipdate AS DATE)) * 100
              + month(CAST(l_shipdate AS DATE)) AS INT) AS ship_month,
            ${graft.functions.PortableSql.hexToLong(
              "md5(CAST(l_orderkey AS VARCHAR) || '|' " +
                "|| CAST(l_linenumber AS VARCHAR) || '|' " +
                "|| CAST(l_partkey AS VARCHAR) || '|' " +
                "|| CAST(l_suppkey AS VARCHAR))", 12)} AS rh
          FROM lineitem)
        SELECT ship_month, count(*) AS n_rows,
          CAST(CAST(sum(CAST(rh AS DECIMAL(38,0))) AS DECIMAL(38,0))
            % ${1L << 48} AS BIGINT) AS checksum
        FROM h GROUP BY 1 ORDER BY 1"""))(
      (s, dir) =>
        Tables.load(s, dir, "lineitem")
          .select((year(to_date(col("l_shipdate"))) * 100
              + month(to_date(col("l_shipdate")))).as("ship_month"),
            graft.functions.Md5Long.md5PrefixLong(
              concat_ws("|", col("l_orderkey").cast("string"),
                col("l_linenumber").cast("string"),
                col("l_partkey").cast("string"),
                col("l_suppkey").cast("string")), 0, 6).as("rh"))
          .groupBy("ship_month")
          .agg(count(lit(1)).as("n_rows"),
            (sum(col("rh").cast("decimal(38,0)")) % lit(1L << 48))
              .cast("long").as("checksum"))
          .orderBy("ship_month"))
    ,

    // Dynamic partition pruning — THE star-join scan optimization at
    // 100 TB: the fact lands hive-partitioned on the join key, the dim
    // carries a selective NON-key predicate, and Catalyst injects a
    // runtime `dynamicpruning` subquery into the fact scan's
    // PartitionFilters (reusing the dim's broadcast), so partitions
    // whose keys the filtered dim can't match ARE NEVER READ — here 2
    // of 3, at scale all but the selected slice. PlansSpec pins the
    // dynamicpruning expression; the oracle proves the pruned scan
    // returns exactly the plain join's rows.
    Q("q294_dpp_join", Q.sql("""
        WITH dim AS (
          SELECT DISTINCT l_returnflag AS flag,
            'grp_' || l_returnflag AS label
          FROM lineitem)
        SELECT l_returnflag AS flag, count(*) AS n,
          CAST(sum(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE) AS total_qty
        FROM lineitem f JOIN dim d ON f.l_returnflag = d.flag
        WHERE d.label IN ('grp_A', 'grp_R')
        GROUP BY 1 ORDER BY 1"""))(
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        val factRoot = Lake.scratch(s, "dppfact", dir)
        li.select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
          .write.partitionBy("l_returnflag").parquet(factRoot)
        val dimRoot = Lake.scratch(s, "dppdim", dir)
        li.select(col("l_returnflag").as("flag"),
            concat(lit("grp_"), col("l_returnflag")).as("label"))
          .distinct()
          .write.parquet(dimRoot)
        val fact = graft.io.Footers.read(s, factRoot)
        val dim = graft.io.Footers.read(s, dimRoot)
          .where(col("label").isin("grp_A", "grp_R"))
        fact.join(dim, fact("l_returnflag") === dim("flag"))
          .groupBy(col("l_returnflag").as("flag"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(27,4)")).cast("double")
              .as("total_qty"))
          .orderBy("flag")
      })
  )
}
