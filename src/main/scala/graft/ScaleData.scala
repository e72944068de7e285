package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-factor amplifier for the test fixtures: builds an sfN directory
  * from an existing one by replicating every fact table `factor` times with
  * KEY-SHIFTED replicas — each logical key domain (custkey, orderkey, …)
  * shifts by `k · (max+1)` in replica k, so every FK relationship stays
  * exactly as dense as the source (orders still join customers 1:1, lineitem
  * fans out identically) while row counts, join cardinalities and group
  * counts all grow linearly. Dimension tables (region, nation) stay fixed —
  * the TPC-H shape — and nationkey/regionkey columns are left unshifted so
  * fact→dim FKs stay valid. Timestamps are left untouched: a 10× run packs
  * 10× the density into the same time range, which is the realistic way
  * event volume grows.
  *
  * Output is one parquet FILE per table (`<dst>/<table>.parquet`), matching
  * the fixture layout both Spark and the DuckDB oracle read.
  *
  * Usage: runMain graft.ScaleData <srcDir> <dstDir> <factor>
  */
object ScaleData {

  /** table -> (keyColumn -> domain owner table+column for the shift base).
    * A domain's size is max(key)+1 in the SOURCE table that owns it. */
  private val shiftPlan: Map[String, Seq[(String, (String, String))]] = Map(
    "customer" -> Seq("c_custkey" -> ("customer", "c_custkey")),
    "supplier" -> Seq("s_suppkey" -> ("supplier", "s_suppkey")),
    "part" -> Seq("p_partkey" -> ("part", "p_partkey")),
    "orders" -> Seq(
      "o_orderkey" -> ("orders", "o_orderkey"),
      "o_custkey" -> ("customer", "c_custkey")),
    "lineitem" -> Seq(
      "l_orderkey" -> ("orders", "o_orderkey"),
      "l_partkey" -> ("part", "p_partkey"),
      "l_suppkey" -> ("supplier", "s_suppkey")),
    "events" -> Seq(
      "event_id" -> ("events", "event_id"),
      // user_id FKs the CUSTOMER key domain (RelationalQueries joins
      // events.user_id = c_custkey), so it must shift by the customer
      // domain or replica-k events would join replica-0 customers
      "user_id" -> ("customer", "c_custkey")),
    "documents" -> Seq("doc_id" -> ("documents", "doc_id")),
    "embeddings" -> Seq("vec_id" -> ("embeddings", "vec_id")))

  private val copyAsIs = Seq("region", "nation")

  def main(args: Array[String]): Unit = {
    val Array(srcDir, dstDir, factorS) = args
    val factor = factorS.toInt
    require(factor >= 1, "factor must be >= 1")
    val spark = Main.buildSession("graft-scaledata")
    // match the fixtures' physical timestamp encoding (µs) so the
    // footer-probe readers and DuckDB see the same thing they do on the
    // driver-generated files
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(dstDir).mkdirs()

    def src(t: String): DataFrame = spark.read.parquet(s"$srcDir/$t.parquet")

    // one pass over each domain-owning table for the shift bases
    val domainSize: Map[(String, String), Long] =
      shiftPlan.values.flatten.map(_._2).toSet.map { d: (String, String) =>
        val row = src(d._1).agg(max(col(d._2))).head()
        // fail with the table/column name: an empty source gives a NULL max
        // and a non-integral key column a ClassCastException — both used to
        // surface as opaque NPEs from the fixture tool (r11 advice)
        if (row.isNullAt(0))
          sys.error(s"[scale] ${d._1}.${d._2}: empty source table, no key domain to shift by")
        // INTEGRAL types only: a Double/Float/BigDecimal key would silently
        // TRUNCATE through Number.longValue and shift replicas off a wrong
        // base — exactly the silent-collision class this guard exists for
        val m = row.get(0) match {
          case n: java.lang.Long => n.longValue()
          case n: java.lang.Integer => n.longValue()
          case n: java.lang.Short => n.longValue()
          case n: java.lang.Byte => n.longValue()
          case other => sys.error(
            s"[scale] ${d._1}.${d._2}: key column is ${other.getClass.getSimpleName}, need an integral type")
        }
        d -> (m + 1L)
      }.toMap

    def writeOne(df: DataFrame, t: String): Unit = {
      val tmp = s"$dstDir/__tmp_$t"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val dir = new java.io.File(tmp)
      val part = dir.listFiles().find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet part written for $t"))
      val dst = new java.io.File(s"$dstDir/$t.parquet")
      if (dst.exists()) dst.delete()
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dir.listFiles().foreach(_.delete()); dir.delete()
    }

    copyAsIs.foreach { t => writeOne(src(t), t); println(s"[scale] $t copied") }
    shiftPlan.toSeq.sortBy(_._1).foreach { case (t, shifts) =>
      val base = src(t)
      val reps = (0 until factor).map { k =>
        shifts.foldLeft(base) { case (df, (c, dom)) =>
          df.withColumn(c, (col(c) + lit(k * domainSize(dom))).cast(df.schema(c).dataType))
        }
      }
      writeOne(reps.reduce(_ unionByName _), t)
      println(s"[scale] $t x$factor written")
    }
    spark.stop()
  }
}
