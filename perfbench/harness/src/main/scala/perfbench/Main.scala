package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.BusDrain
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` builds it, generates the inputs and
  * launches it once per benchmark run; it writes raw samples as JSON and
  * `run.py` turns them into metrics.
  *
  * Modes (arguments are key=value):
  *  - `mode=oracle names=<q,q,..> out=<file>`: the DuckDB twin
  *    (`SparkEntry.oracleSql`) of each named query.
  *  - `mode=run workload=<name> queries=<op,op,..> data=<dir>
  *    seed=<n> seconds=<s> trace=<0|1> cpus=<n> work=<dir> out=<file>`:
  *    each op a `SparkEntry.queries` name, or `pipeline` for E1 then E2;
  *    set-up (session start and a cold pass that writes the outputs for the
  *    check), warm passes in a closed loop until `seconds` have passed (at
  *    least one; two when traced), the warm outputs for the check, then a
  *    full GC and the retained heap.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    a("mode") match {
      case "oracle" => oracle(a)
      case "run" => new Run(a).apply()
    }
  }

  /** The session graft.Bench builds, on local[cpus]. */
  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The DuckDB twin of each named query, for the pins' cross-check. */
  def oracle(a: Map[String, String]): Unit =
    Json.write(a("out"), Json.obj(a("names").split(",").toSeq
      .flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)): _*))

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Bytes under every `graft_*` directory in `dir` (the program's staging). */
  def stagedBytes(dir: String): Long =
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("graft_"))
      .map(p => Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum)
      .sum

  def rmRf(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
}

/** One benchmark run of one workload. */
final class Run(a: Map[String, String]) {
  import Main.seconds

  private val workload = a("workload")
  private val cpus = a("cpus").toInt
  private val work = a("work")
  private val budget = a("seconds").toDouble
  private val traced = a("trace") == "1"
  private val dir = a("data")
  private val queries = a("queries").split(",").toSeq
  private val rng = new scala.util.Random(a("seed").toLong)
  private val trace = new Trace
  private var spark: SparkSession = _

  /** One timed operation: a benched query, or a pipeline flow. Counters are
    * filled only on traced passes. */
  private case class Op(name: String, constructS: Double, seconds: Double, ok: Boolean,
                        error: String, stages: Seq[(String, Double)],
                        layers: Seq[(String, Counters)])

  private def tagged[T](op: String, phase: String, tracing: Boolean)(body: => T): T = {
    val sc = spark.sparkContext
    val key = s"$workload:$op:$phase"
    if (tracing) { BusDrain(sc); trace.current = key }
    sc.addJobTag(s"pb:$key")
    try body finally sc.removeJobTag(s"pb:$key")
  }

  private def layers(op: String, phases: Seq[String], tracing: Boolean): Seq[(String, Counters)] =
    if (!tracing) Nil
    else {
      BusDrain(spark.sparkContext)
      trace.current = "none"
      trace.take("none")
      phases.map(p => p -> trace.take(s"$workload:$op:$p"))
    }

  private def error(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).take(300)

  /** One query: construct it, then force it through the `noop` sink (as
    * graft.Bench does) or, on the set-up pass, into Parquet for the check. */
  private def query(name: String, tracing: Boolean, check: Option[String]): Op = {
    val t0 = System.nanoTime()
    var tc = 0.0
    val (ok, err) =
      try {
        val df = tagged(name, "construct", tracing)(graft.SparkEntry.queries(name)(spark, dir))
        tc = seconds(t0)
        val w = df.write.mode("overwrite")
        tagged(name, "execute", tracing)(check.fold(w.format("noop").save())(w.parquet))
        (true, "")
      } catch { case e: Throwable => (false, error(e)) }
    val t = seconds(t0)
    Op(name, tc, t, ok, err, Nil, layers(name, Seq("construct", "execute"), tracing))
  }

  /** E1: `Pipeline.runReport` into a fresh directory. */
  private def e1(out: String, tracing: Boolean): Op = {
    val t0 = System.nanoTime()
    val r =
      try {
        val rep = tagged("e1", "execute", tracing)(graft.Pipeline.runReport(spark, dir, out))
        Right(rep.stages.map(s => s.stage -> s.seconds))
      } catch { case e: Throwable => Left(error(e)) }
    val t = seconds(t0)
    Op("e1", 0.0, t, r.isRight, r.left.getOrElse(""), r.getOrElse(Nil),
      layers("e1", Seq("execute"), tracing))
  }

  /** E2: stage 3 CSV batches, drain them with `StreamingIngest.ingestCsvStream`,
    * re-drain them as a no-op. The landed-row check runs after the clock stops. */
  private def e2(out: String, tracing: Boolean): Op = {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val t0 = System.nanoTime()
    val stages = ArrayBuffer.empty[(String, Double)]
    def stage(name: String)(body: => Unit): Unit = {
      val s0 = System.nanoTime()
      tagged("e2", name, tracing)(body)
      stages += name -> seconds(s0)
    }
    val watched = s"$out/watch/*/"
    def drain(): Unit = graft.streaming.StreamingIngest.ingestCsvStream(spark, watched,
      graft.sources.Ingest.campaignsSchema, s"$out/layer", s"$out/ckpt")
    val r =
      try {
        stage("stage") {
          (0 to 2).foreach { i =>
            graft.sources.Generator.campaigns(spark, 50000)
              .where(pmod(col("campaign_id"), lit(3)) === i)
              .write.option("header", "true").csv(s"$out/watch/batch_$i")
          }
        }
        stage("drain")(drain())
        stage("redrain")(drain())
        Right(())
      } catch { case e: Throwable => Left(error(e)) }
    val t = seconds(t0)
    val ls = layers("e2", Seq("stage", "drain", "redrain"), tracing)
    val landed = if (r.isRight) spark.read.parquet(s"$out/layer").count() else 0L
    val err = r.left.getOrElse(if (landed == 50000L) "" else s"E2 landed $landed rows, expected 50000")
    Op("e2", 0.0, t, err.isEmpty, err, stages.toSeq, ls)
  }

  /** One pass over `ops` into `out`. Queries are forced into Parquet under
    * `out` when `parquet` is set (for the output check), else into `noop`;
    * the pipeline's flows always write their layers under `out`. */
  private def pass(ops: Seq[String], out: String, tracing: Boolean, parquet: Boolean): Seq[Op] = {
    Main.rmRf(Paths.get(out))
    ops.flatMap {
      case "pipeline" => Seq(e1(s"$out/e1", tracing), e2(s"$out/e2", tracing))
      case q => Seq(query(q, tracing, Option(s"$out/$q").filter(_ => parquet)))
    }
  }

  def apply(): Unit = {
    Files.createDirectories(Paths.get(work))
    // Set-up: session start plus the first, cold pass (staging builds, JIT,
    // codegen), which also writes the outputs the check reads. It runs the
    // queries in sorted order, so every seed pays the same cold costs.
    val t0 = System.nanoTime()
    spark = Main.session(cpus, work)
    val sessionS = seconds(t0)
    val cold = pass(queries.sorted, s"$work/check", tracing = false, parquet = true)
    val setupS = seconds(t0)
    val staged = Main.stagedBytes(System.getProperty("java.io.tmpdir"))
    // Warm passes: a closed loop, one operation at a time, at least one. With
    // tracing on, passes alternate traced / untraced (listeners attached only
    // for traced ones) so the listeners' overhead is measured within the run.
    val passes = ArrayBuffer.empty[(Double, Boolean, Seq[Op])]
    val w0 = System.nanoTime()
    while (passes.size < (if (traced) 2 else 1) || seconds(w0) < budget) {
      val tracing = traced && passes.size % 2 == 0
      val p0 = System.nanoTime()
      if (tracing) {
        spark.sparkContext.addSparkListener(trace)
        spark.listenerManager.register(trace)
      }
      val ops = pass(rng.shuffle(queries), s"$work/warm", tracing, parquet = false)
      if (tracing) {
        spark.sparkContext.removeSparkListener(trace)
        spark.listenerManager.unregister(trace)
      }
      passes += ((seconds(p0), tracing, ops))
    }
    val window = seconds(w0)
    // The warm path's outputs are checked too, untimed: the pipeline's flows
    // left theirs under warm/ in the last timed pass; the queries, which the
    // timed passes force into noop, run once more into Parquet there.
    val rerun = queries.filterNot(_ == "pipeline")
    val verify = if (rerun.isEmpty) Nil else pass(rng.shuffle(rerun), s"$work/warm", tracing = false, parquet = true)
    // Full collections, with pauses so Spark's ContextCleaner can drop the
    // shuffle and broadcast state the first one frees.
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    spark.stop()
    def opJson(o: Op): Any = Json.obj(
      "name" -> o.name, "construct_s" -> o.constructS, "seconds" -> o.seconds,
      "ok" -> o.ok, "error" -> o.error,
      "stages" -> Json.obj(o.stages: _*),
      "layers" -> Json.obj(o.layers.map { case (k, c) => k -> Json.obj(c.v.toSeq: _*) }: _*))
    Json.write(a("out"), Json.obj(
      "workload" -> workload, "seed" -> a("seed").toLong, "cpus" -> cpus,
      "session_s" -> sessionS, "setup_s" -> setupS, "setup_ops" -> cold.map(opJson),
      "verify_ops" -> verify.map(opJson),
      "staged_bytes" -> staged, "window_s" -> window, "retained_heap_bytes" -> heap,
      "passes" -> passes.toSeq.map { case (t, tr, ops) =>
        Json.obj("seconds" -> t, "traced" -> tr, "ops" -> ops.map(opJson))
      }))
  }
}

/** Just enough JSON to write the run's samples: numbers, strings, booleans,
  * sequences and (ordered) key/value sequences. */
object Json {
  final case class Obj(kv: Seq[(String, Any)])
  def obj(kv: (String, Any)*): Obj = Obj(kv)

  def encode(v: Any): String = v match {
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case Obj(kv) => kv.map { case (k, x) => encode(k) + ":" + encode(x) }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(encode).mkString("[", ",", "]")
  }

  def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), (encode(v) + "\n").getBytes("UTF-8"))
}
