package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Analytics
import graft.tables.GraftTable

import Json._

/** dashboard_scan: a seeded rotation of the reference dashboard
  * aggregates and TPC-H-style queries through `Analytics` over the raw
  * parquet corpus, plus selective range and point reads through the
  * pruned snapshot reads of a one-version GraftTable over `lineitem`.
  * The commit layer is idle here.
  */
final class Dashboard(spark: SparkSession, tr: Tracer, a: Args) extends Workload {
  private val spec = parseFile(a.inputs.resolve("rep0/ops.json").toString)
  private val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_total_amount" -> Analytics.totalAmount _,
    "q_amount_by_priority" -> Analytics.amountByPriority _,
    "q_count_by_state" -> Analytics.countByState _,
    "q1_pricing_summary" -> Analytics.pricingSummary _,
    "q3_shipping_priority" -> Analytics.shippingPriority _,
    "q5_region_revenue" -> Analytics.regionRevenue _,
    "q9_profit_nation" -> Analytics.profitByNation _,
    "q18_large_orders" -> Analytics.largeOrders _)
  val period: Int = spec.int("period")
  /** per repetition: the raw corpus and the GraftTable over its lineitem */
  private val states = mutable.ArrayBuffer.empty[(String, Path, GraftTable)]
  private val out = a.work.resolve("check")
  // first answer of each query: later answers must repeat it exactly
  private val firstAnswer = mutable.Map.empty[String, Seq[String]]
  private val reads = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val filesRatio = mutable.ArrayBuffer.empty[Double]

  def setup(rep: Int): Unit = {
    val corpus = a.inputs.resolve(s"rep$rep").toString
    val root = a.work.resolve(s"rep$rep/lineitem")
    states += ((corpus, root, GraftTable.create(spark, root.toString,
      spark.read.parquet(s"$corpus/lineitem.parquet")
        .repartitionByRange(16, col("l_orderkey")))))
  }

  private def answer(rows: Array[Row]): Seq[String] =
    rows.map(_.toSeq.mkString("|")).toSeq.sorted

  private val lineSummary = Seq(count(lit(1)), sum(col("l_quantity")),
    sum(col("l_linenumber")), sum(col("l_orderkey")))

  def ops(rep: Int, record: Boolean): Iterator[Op] = {
    val (corpus, _, t) = states(rep)
    spec.arr("ops").iterator.map { o =>
      val id = o.int("id")
      val kind = o.str("kind")
      var rows: Array[Row] = null
      var got: Seq[String] = Nil
      var df: DataFrame = null
      kind match {
        case q if queries.contains(q) => Op(id, kind, "read",
          () => {
            df = tr.call("operators", s"Analytics.$q")(queries(q)(spark, corpus))
            rows = df.collect()
            got = answer(rows)
          },
          () => if (record) firstAnswer.get(q) match {
            case None =>
              // the rows this op collected, not a second run of the query
              firstAnswer(q) = got
              spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
                .write.mode("overwrite").parquet(out.resolve(q).toString)
            case Some(first) =>
              require(first == got, s"$q answered differently than its first run")
          })
        case "range_read" | "point_read" => Op(id, kind, "read",
          () => {
            val key = col("l_orderkey")
            df =
              if (kind == "range_read")
                tr.call("tables", "GraftTable.snapshotPruned")(
                  t.snapshotPruned("l_orderkey", o.long("lo").toDouble, o.long("hi").toDouble))
                  .where(key.between(o.long("lo"), o.long("hi")))
              else
                tr.call("tables", "GraftTable.snapshotPrunedIn")(
                  t.snapshotPrunedIn("l_orderkey", o.longs("keys").map(_.toDouble).toArray))
                  .where(key.isin(o.longs("keys"): _*))
            got = answer(df.agg(lineSummary.head, lineSummary.tail: _*).collect())
          },
          () => if (record) {
            reads += Map("id" -> id, "kind" -> kind, "result" -> got.head)
            if (tr.enabled)
              filesRatio += df.inputFiles.length.toDouble / t.history(1).head.getLong(3)
          })
        case other => sys.error(s"unknown dashboard op $other")
      }
    }
  }

  def finish(recs: Seq[Rec], traced: Boolean): Map[String, Any] = {
    val (_, root, t) = states.last
    Files.createDirectories(out)
    val oracle = graft.SparkEntry.oracleSql
    Files.write(out.resolve("oracle_sql.json"), Json.render(
      firstAnswer.keys.map(q => q -> oracle(q)).toMap).getBytes("UTF-8"))
    Files.write(out.resolve("reads.json"), Json.render(reads).getBytes("UTF-8"))
    val plain = Main.plainBytes(t.snapshot(), out.resolve("plain"))
    val (files, bytes) = Main.du(root.resolve("files"))
    val (logFiles, logBytes) = Main.du(root.resolve("_graft_log"))
    Map(
      "space_amp" -> Main.du(root)._2.toDouble / plain,
      "tables.versions" -> (t.latestVersion + 1),
      "tables.log_files" -> logFiles, "tables.log_bytes" -> logBytes,
      "tables.live_files" -> t.history(1).head.getLong(3),
      "tables.disk_files" -> files, "tables.disk_bytes" -> bytes,
      "tables.read_files_ratio" ->
        (if (filesRatio.isEmpty) 0.0 else filesRatio.sum / filesRatio.size))
  }
}
