package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.Streams
import graft.tables.GraftTable

import Json._

/** curation_stream: seeded document arrivals curated cycle by cycle.
  * A cycle lands one batch file in the raw directory by rename and runs
  * an AvailableNow `Streams.curationStream` under the global-min
  * survivorship rule; each cycle is followed by a read-only
  * `Dedup.incrementalProbe` of a fixed probe set against the growing
  * index. Set-up curates the initial corpus the same way.
  */
final class Curation(spark: SparkSession, tr: Tracer, a: Args) extends Workload {
  private val meta = parseFile(a.inputs.resolve("rep0/meta.json").toString)
  // four cycles per timed unit, so the medians resist one slow cycle
  val period = 4

  /** one repetition's pipeline: its inputs, directories and curated table */
  private final class State(val in: Path, val dir: Path, val curated: GraftTable) {
    def raw: Path = dir.resolve("raw")
    def idx: Path = dir.resolve("index")
    def land(name: String): Unit = {
      Files.createDirectories(raw)
      Files.move(in.resolve(name), raw.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }
    def curate(): Long =
      tr.call("streaming", "Streams.curationStream")(Streams.curationStream(spark,
        raw.toString, dir.resolve("checkpoint").toString, idx.toString,
        dir.resolve("clusters").toString, curated, firstAdmittedWins = false))
  }
  private val states = mutable.ArrayBuffer.empty[State]
  private val out = a.work.resolve("check")
  private val cycles = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val probes = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var landed = 0

  def setup(rep: Int): Unit = {
    val in = a.inputs.resolve(s"rep$rep")
    val dir = a.work.resolve(s"rep$rep/curation")
    val docs = spark.read.parquet(in.resolve("initial.parquet").toString)
    val st = new State(in, dir, GraftTable.create(spark, dir.resolve("curated").toString,
      docs.limit(0)))
    st.land("initial.parquet")
    st.curate()
    states += st
  }

  private def probe(st: State): Seq[String] = {
    val res = tr.call("operators", "Dedup.incrementalProbe")(Dedup.incrementalProbe(spark,
      st.idx.toString, spark.read.parquet(st.in.resolve("probe.parquet").toString)))
    try res.select("doc_a", "doc_b").collect()
      .map(r => s"${r.getLong(0)}|${r.getLong(1)}").toSeq.sorted
    finally res.unpersist()
  }

  /** one op per arrival cycle: its write part lands the batch and curates
    * it, its read part probes the grown index */
  def ops(rep: Int, record: Boolean): Iterator[Op] = {
    val st = states(rep)
    meta.arr("cycles").iterator.map { c =>
      val k = c.int("cycle")
      var version = -1L
      var pairs: Seq[String] = Nil
      lazy val op: Op = Op(k, "cycle", "write",
        () => {
          version = op.part("write") { st.land(f"batch_$k%03d.parquet"); st.curate() }
          pairs = op.part("read")(probe(st))
        },
        () => if (record) {
          landed = k
          cycles += Map("cycle" -> k, "version" -> version)
          probes += Map("after_cycle" -> k, "pairs" -> pairs)
        })
      op
    }
  }

  def finish(recs: Seq[Rec], traced: Boolean): Map[String, Any] = {
    val st = states.last
    Files.createDirectories(out)
    val snap = st.curated.snapshot()
    snap.select("doc_id").write.mode("overwrite").parquet(out.resolve("curated").toString)
    Files.write(out.resolve("curation.json"), Json.render(Map(
      "cycles_landed" -> landed, "cycles" -> cycles, "probes" -> probes))
      .getBytes("UTF-8"))
    val plain = Main.plainBytes(snap, out.resolve("plain"))
    val root = st.dir.resolve("curated")
    val roots = Seq(root, st.idx, st.dir.resolve("clusters"))
    val arrived = meta.int("initial_docs") + landed * meta.int("batch_docs")
    val (logFiles, logBytes) = Main.du(root.resolve("_graft_log"))
    val (diskFiles, diskBytes) = Main.du(root.resolve("files"))
    val probePairs = probes.map(_("pairs").asInstanceOf[Seq[_]].size.toDouble)
    Map(
      "space_amp" -> roots.map(r => Main.du(r)._2).sum.toDouble / plain,
      "tables.versions" -> (st.curated.latestVersion + 1),
      "tables.log_files" -> logFiles, "tables.log_bytes" -> logBytes,
      "tables.live_files" -> st.curated.history(1).head.getLong(3),
      "tables.disk_files" -> diskFiles, "tables.disk_bytes" -> diskBytes,
      "operators.pairs" -> (if (probePairs.isEmpty) 0.0 else probePairs.sum / probePairs.size),
      "operators.drop_ratio" -> (1.0 - snap.count().toDouble / arrived),
      "operators.index_files" -> Main.du(st.idx)._1)
  }
}
