package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One op of a workload's seeded sequence. `body` is what the client
  * waits for (timed); `after` is untimed bookkeeping once it returns. An
  * op made of a write and a read times each into `parts`.
  */
final case class Op(id: Int, kind: String, cls: String, body: () => Unit,
    after: () => Unit = () => ()) {
  val parts = scala.collection.mutable.Map.empty[String, Double]
  def part[T](name: String)(f: => T): T = {
    val s = System.nanoTime()
    try f finally parts(name) = (System.nanoTime() - s) / 1e6
  }
}

final case class Rec(id: Int, kind: String, cls: String, ms: Double,
    ok: Boolean, err: String, parts: Map[String, Double])

final case class Args(workload: String, inputs: Path, work: Path, out: Path,
    seconds: Double, trace: Boolean, reps: Int, cores: Int)

/** A workload builds its initial state once per set-up repetition and
  * keeps every copy: the warm-up runs on the first, the timed phase on
  * the last. The timed phase runs whole units of `period` ops; the op
  * kinds repeat with that period, so every unit holds the same mix.
  */
trait Workload {
  def period: Int
  def setup(rep: Int): Unit
  /** the seeded op sequence against repetition `rep`'s state; only the
    * timed phase records results for the oracle */
  def ops(rep: Int, record: Boolean): Iterator[Op]
  /** Untimed warm-up on repetition 0's state, so the timed phase starts
    * the schedule from its first op on a table no warm-up op touched: the
    * first op of each kind, in schedule order, so that no code path of
    * the timed phase runs for the first time there. */
  def warmup(): Unit = {
    val seen = scala.collection.mutable.Set.empty[String]
    ops(0, record = false).filter(op => seen.add(op.kind)).foreach(_.body())
  }
  /** untimed work between timed ops of the traced run */
  def between(traced: Boolean): Unit = ()
  /** Writes the outputs the oracle checks; returns workload figures. */
  def finish(recs: Seq[Rec], traced: Boolean): Map[String, Any]
}

/** Benchmark JVM: one closed-loop client over one Spark session.
  *
  *   --workload ledger_dml|dashboard_scan|curation_stream
  *   --inputs DIR   generated inputs, one copy per set-up repetition (rep0..)
  *   --work DIR     tables, checkpoints and oracle outputs
  *   --out FILE     result JSON
  *   --seconds S --trace 0|1 --reps R --cores N
  */
object Main {
  /** wall-clock cap of the timed phase, so that a run ends within the
    * harness's time limit even when a unit runs far slower than usual */
  val maxTimedS = 60
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), Paths.get(m("inputs")), Paths.get(m("work")), Paths.get(m("out")),
      m("seconds").toDouble, m("trace") == "1",
      m("reps").toInt, m("cores").toInt)
  }

  def session(a: Args): SparkSession = {
    val b = SparkSession.builder().master(s"local[${a.cores}]").appName("perfbench")
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
    val s = graft.Sessions.tune(b, math.max(a.cores, 4)).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def gc(): (Long, Long) = {
    val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024)
      .getOrElse(Double.NaN)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val t0 = System.nanoTime()
    val spark = session(a)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, a.trace)
    val w: Workload = a.workload match {
      case "ledger_dml" => new Ledger(spark, tracer, a)
      case "dashboard_scan" => new Dashboard(spark, tracer, a)
      case "curation_stream" => new Curation(spark, tracer, a)
      case other => sys.error(s"unknown workload $other")
    }
    val setupS = (0 until a.reps).map { r =>
      val s = System.nanoTime(); w.setup(r); (System.nanoTime() - s) / 1e9
    }

    w.warmup()

    // timed phase: whole units, until the ops themselves took `seconds`;
    // the untimed bookkeeping after and between ops is not counted. A unit
    // is cut short only when the phase has run for maxTimedS.
    val recs = ArrayBuffer.empty[Rec]
    val timedOps = ArrayBuffer.empty[Span]
    val it = w.ops(a.reps - 1, record = true)
    val gc0 = gc()
    val hardEnd = tracer.now + maxTimedS * 1000
    var busyMs = 0.0
    while (it.hasNext && tracer.now < hardEnd &&
        (busyMs < a.seconds * 1000 || recs.size % w.period != 0)) {
      val op = it.next()
      val s = tracer.beginOp(op.id, op.kind)
      val err = try { op.body(); null } catch {
        case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
      }
      val e = tracer.endOp(op.id, op.kind, s)
      busyMs += e - s
      timedOps += Span(op.id, "op", op.kind, s, e)
      val err2 = if (err != null) err else try { op.after(); null } catch {
        case x: Throwable => s"check: ${x.getClass.getSimpleName}: ${x.getMessage}".take(400)
      }
      recs += Rec(op.id, op.kind, op.cls, e - s, err2 == null, err2, op.parts.toMap)
      w.between(a.trace)
    }
    val gc1 = gc()
    val figures = w.finish(recs.toSeq, a.trace)

    val layers: Map[String, Any] = if (!a.trace) Map.empty else {
      val per = tracer.perOp(timedOps.toSeq)
      def means(xs: Seq[Map[String, Double]]): Map[String, Double] =
        if (xs.isEmpty) Map.empty
        else xs.head.keys.map(k => k -> xs.map(_(k)).sum / xs.size).toMap
      val cov = per.map(_._2("trace.coverage")).sorted
      tracer.write(a.out.resolveSibling(a.out.getFileName.toString.replace(".json", "") + "-spans.jsonl"))
      Map("per_op_mean" -> means(per.map(_._2)),
        "by_kind" -> per.groupBy(_._1.name).map { case (k, v) => k -> means(v.map(_._2)) },
        "coverage_ok_ratio" -> cov.count(_ >= 0.9).toDouble / math.max(cov.size, 1),
        "coverage_min" -> cov.headOption.getOrElse(0.0))
    }
    val result = Map(
      "workload" -> a.workload,
      "session_s" -> sessionS,
      "setup_build_s" -> setupS,
      "timed_s" -> busyMs / 1000,
      "gc_ms" -> (gc1._1 - gc0._1), "gc_count" -> (gc1._2 - gc0._2),
      "peak_rss_mb" -> peakRssMb(),
      "ops" -> recs.map(r => Map("id" -> r.id, "kind" -> r.kind, "cls" -> r.cls,
        "ms" -> r.ms, "ok" -> r.ok, "err" -> r.err, "parts" -> r.parts)),
      "figures" -> figures,
      "layers" -> layers)
    Files.write(a.out, Json.render(result).getBytes("UTF-8"))
    spark.stop()
  }

  // ------------------------------------------------------------- helpers

  def du(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
      finally s.close()
    }

  /** bytes of a plain (non-graft) parquet write of `df` */
  def plainBytes(df: org.apache.spark.sql.DataFrame, dir: Path): Long = {
    df.write.mode("overwrite").parquet(dir.toString)
    val s = Files.list(dir)
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .map(Files.size).sum
    finally s.close()
  }
}
