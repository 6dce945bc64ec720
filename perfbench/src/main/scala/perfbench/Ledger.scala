package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.tables.{GraftSql, GraftTable}

import Json._

/** ledger_dml: a GraftTable over `orders` with a bloom index on
  * o_orderkey, driven through small MERGE / DELETE / UPDATE / append /
  * compact commits interleaved with point lookups, aggregates, time
  * travel and history, on a history set-up grew to hundreds of versions
  * with metadata-only commits. The timed run logs every write's committed
  * version and every read's answer to oplog.json for the replay oracle.
  */
final class Ledger(spark: SparkSession, tr: Tracer, a: Args) extends Workload {
  private val spec = parseFile(a.inputs.resolve("rep0/ops.json").toString)
  private val minFiles = spec.int("compact_min_files")
  private val openEvery = spec.int("open_sample_every")
  val period: Int = spec.int("period")

  /** one repetition's table, as the client sees it */
  private final class State(val rep: Int, val root: Path, val t: GraftTable) {
    val grown: Long = t.latestVersion
    var version: Long = grown
    val setupBytes: Long = Main.du(root)._2
  }
  private val states = ArrayBuffer.empty[State]
  private var schema: StructType = _
  private var payload: Map[Long, Array[Row]] = Map.empty
  private var commitsSinceOpen = 0
  private val opens = ArrayBuffer.empty[Double]
  private var openBase = Double.NaN
  private val log = ArrayBuffer.empty[Map[String, Any]]
  private val filesRatio = ArrayBuffer.empty[Double]

  def setup(rep: Int): Unit = {
    val in = a.inputs.resolve(s"rep$rep")
    val root = a.work.resolve(s"rep$rep/ledger")
    val orders = spark.read.parquet(in.resolve("orders.parquet").toString)
    schema = orders.schema
    def byOp(f: String) = spark.read.parquet(in.resolve(f).toString).collect()
      .groupBy(_.getLong(schema.size))
      .map { case (op, rows) => op -> rows.map(r => Row.fromSeq(r.toSeq.take(schema.size))) }
    payload = byOp("merge_rows.parquet") ++ byOp("append_rows.parquet")
    val t = GraftTable.create(spark, root.toString,
      orders.repartitionByRange(16, col("o_orderkey")))
    t.setProperties(Map("graft.bloom.columns" -> "o_orderkey"))
    t.rebuildBloomIndex()
    // traced run: the cold open of the young table, the base of open_growth
    if (tr.enabled && rep == a.reps - 1) openBase = coldOpen(root)
    // a long history of metadata-only commits: the data stays as created
    for (i <- 1 to spec.int("grow_versions"))
      t.setProperties(Map("perfbench.grown" -> i.toString))
    spark.sql(s"DROP TABLE IF EXISTS ledger$rep")
    spark.sql(s"CREATE TABLE ledger$rep USING `graft-table` OPTIONS (path '$root')")
    states += new State(rep, root, t)
  }

  private def source(op: Int): DataFrame =
    spark.createDataFrame(payload(op.toLong).toSeq.asJava, schema)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def liveFiles(t: GraftTable): Long = t.history(1).head.getLong(3)

  def ops(rep: Int, record: Boolean): Iterator[Op] = {
    val st = states(rep)
    val t = st.t
    spec.arr("ops").iterator.map { o =>
      val id = o.int("id")
      val kind = o.str("kind")
      var result: Seq[String] = Nil
      var readAt = -1L
      var pruned: DataFrame = null
      def write(body: => Unit): Op = Op(id, kind, "write", () => body, () => {
        val v = t.latestVersion
        if (record) {
          if (v > st.version) commitsSinceOpen += 1
          log += Map("id" -> id, "kind" -> kind, "version" -> v)
        }
        st.version = v
      })
      def read(body: => Seq[String]): Op = Op(id, kind, "read",
        () => { readAt = st.version; result = body },
        () => if (record) {
          log += Map("id" -> id, "kind" -> kind, "version" -> readAt, "result" -> result)
          if (tr.enabled && pruned != null)
            filesRatio += pruned.inputFiles.length.toDouble / math.max(liveFiles(t), 1L)
        })
      def keys = o.longs("keys")
      def inKeys = col("o_orderkey").isin(keys: _*)
      def updated = col("o_orderkey").between(o.long("lo"), o.long("hi")) &&
        col("o_orderpriority") === o.str("priority")
      val set = Map("o_orderstatus" -> lit("U"), "o_totalprice" -> (col("o_totalprice") + lit(1.0)))
      kind match {
        case "merge_api" => write {
          val src = source(id)
          tr.call("tables", "GraftTable.merge")(t.merge(src, "o_orderkey"))
        }
        case "merge_sql" => write {
          source(id).createOrReplaceTempView("ledger_src")
          tr.call("tables", "GraftSql.sql")(GraftSql.sql(spark,
            s"""MERGE INTO ledger${st.rep} t USING ledger_src s ON t.o_orderkey = s.o_orderkey
               |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin))
        }
        case "delete" => write(tr.call("tables", "GraftTable.delete")(t.delete(inKeys)))
        case "delete_mor" => write(tr.call("tables", "GraftTable.deleteMor")(t.deleteMor(inKeys)))
        case "update" => write(tr.call("tables", "GraftTable.update")(t.update(updated, set)))
        case "update_mor" =>
          write(tr.call("tables", "GraftTable.updateMor")(t.updateMor(updated, set)))
        case "append" => write {
          val src = source(id)
          tr.call("tables", "GraftTable.append")(t.append(src))
        }
        case "compact" => write(tr.call("tables", "GraftTable.compactSmall")(
          t.compactSmall(minFiles, targetBytes = 1L << 20)))
        case "lookup" => read {
          pruned = tr.call("tables", "GraftTable.snapshotPrunedIn")(
            t.snapshotPrunedIn("o_orderkey", keys.map(_.toDouble).toArray))
          rows(pruned.where(inKeys).select("o_orderkey", "o_orderstatus", "o_totalprice"))
        }
        case "count_state" => read {
          val df = tr.call("tables", "GraftTable.snapshot")(t.snapshot())
          rows(df.groupBy("o_orderstatus").count())
        }
        case "time_travel" => read {
          val v = math.round(st.version * (1 - o.dbl("back")))
          val df = tr.call("tables", "GraftTable.snapshotAt")(t.snapshotAt(v))
          s"@$v" +: rows(df.groupBy("o_orderstatus").count())
        }
        case "history" => read {
          val h = tr.call("tables", "GraftTable.history")(t.history()).collect()
          Seq(s"${h.length}|${h.map(_.getLong(0)).max}")
        }
        case other => sys.error(s"unknown ledger op $other")
      }
    }
  }

  /** ms to load the table afresh and resolve its latest snapshot */
  private def coldOpen(root: Path): Double = {
    val s = System.nanoTime()
    val cold = GraftTable.load(spark, root.toString)
    cold.latestVersion
    cold.snapshot()
    (System.nanoTime() - s) / 1e6
  }

  /** traced run only: a cold open of the timed table every few commits */
  override def between(traced: Boolean): Unit =
    if (traced && commitsSinceOpen >= openEvery) {
      commitsSinceOpen = 0
      opens += coldOpen(states.last.root)
    }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)

  def finish(recs: Seq[Rec], traced: Boolean): Map[String, Any] = {
    val st = states.last
    val t = st.t
    val out = a.work.resolve("check")
    val finalV = t.latestVersion
    val plain = Main.plainBytes(t.snapshot(), out.resolve("final"))
    // the seeded earlier version checked against the replay, among the
    // timed phase's commits
    val earlyV = st.grown + math.round((finalV - st.grown) * spec.dbl("check_back"))
    t.snapshotAt(earlyV).write.mode("overwrite").parquet(out.resolve("earlier").toString)
    Files.write(out.resolve("oplog.json"), Json.render(Map("grown_version" -> st.grown,
      "final_version" -> finalV,
      "earlier_version" -> earlyV, "ops" -> log)).getBytes("UTF-8"))
    val (diskFiles, diskBytes) = Main.du(st.root.resolve("files"))
    val (logFiles, logBytes) = Main.du(st.root.resolve("_graft_log"))
    val total = Main.du(st.root)._2
    val written = recs.filter(r => r.ok && (r.kind.startsWith("merge") || r.kind == "append"))
      .map(r => payload(r.id.toLong).length).sum
    val liveRows = t.snapshot().count()
    Map(
      "space_amp" -> total.toDouble / plain,
      "tables.versions" -> (finalV + 1),
      "tables.log_files" -> logFiles, "tables.log_bytes" -> logBytes,
      "tables.live_files" -> liveFiles(t),
      "tables.disk_files" -> diskFiles, "tables.disk_bytes" -> diskBytes,
      // bytes the table grew by per byte of row payload the client sent
      "tables.write_amp" -> (total - st.setupBytes).toDouble /
        math.max(written * plain.toDouble / math.max(liveRows, 1L), 1.0),
      "tables.read_files_ratio" ->
        (if (filesRatio.isEmpty) 0.0 else filesRatio.sum / filesRatio.size),
      "tables.open_ms" -> median(opens.toSeq),
      // timed-phase opens of the grown history over the open of the young
      // table in the same JVM
      "tables.open_growth" -> (if (opens.isEmpty) 0.0 else median(opens.toSeq) / openBase))
  }
}
