package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.engine.Engine

/** One benchmark run: set up a session, then run the workload's ops as a
  * closed loop with one client for `--seconds`, then check outputs outside
  * the timed region. Writes a JSON result file that `perfbench/run.py`
  * turns into the reported metrics.
  *
  * Args (all `--key value`): workload, seed, seconds, trace (0|1), data
  * (generated tables), etl (generated pipeline inputs; adds the [[Etl]]
  * ops), members (comma-separated queries), warmup (the query run once per
  * set-up), tables (1 to cache the tables in set-up), work (scratch
  * dir), out.
  */
object Main {

  final case class Setup(total: Double, session: Double, persist: Double,
                         warmup: Double, cacheBytes: Long)

  def main(args: Array[String]): Unit = {
    val jvmStartS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val data = a("data")
    val work = a("work")
    val members = a.get("members").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    val cpus = Runtime.getRuntime.availableProcessors()
    refuseDevSwitches(sys.props.toMap)

    val setup = setUp(cpus, data, a("warmup"), a("tables") == "1")
    val spark = SparkSession.active
    val tracer = if (a("trace") == "1") new Tracer(spark) else new Tracer.Off(spark)
    val etl = a.get("etl").map(new Etl(spark, tracer, _, work))
    val ops: Seq[(String, () => Map[String, Double])] =
      etl.toSeq.flatMap(_.ops) ++ members.map(n => n -> (() => query(spark, tracer, n, data)))

    tracer.start()
    val t0 = System.nanoTime()
    val recs = ArrayBuffer.empty[OpRec]
    var pass = 0
    // pass 0 is the cold pass; passes 1+ are the warm passes, run until
    // `seconds` have passed and at least one of them has run
    while (pass < 2 || (System.nanoTime() - t0) / 1e9 < seconds) {
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(ops)
      order.foreach { case (name, body) => recs += runOp(spark, tracer, name, pass, body) }
      pass += 1
    }
    tracer.stop()
    val warm = recs.filter(_.pass >= 1).toSeq
    val layers: Map[String, Double] =
      if (tracer.on) Tracer.layers(tracer, warm, pass - 1, cpus) +
        ("driver.codegen_compiles" -> recs.filter(_.pass == 0).map(_.codegen).sum.toDouble)
      else Map.empty
    if (tracer.on) writeSpans(s"$work/spans.jsonl", recs.toSeq, tracer)
    val heapMb = liveHeapMb()

    // output check, outside the timed region
    val checkStart = System.nanoTime()
    val check = checkQueries(spark, members, data, s"$work/check",
      etl.map(_.check()).getOrElse(Nil))

    val checkS = (System.nanoTime() - checkStart) / 1e9
    val passS = (0 until pass).map(p => recs.filter(_.pass == p).map(_.wallS).sum)
    val j = new Json
    j.str("workload", workload).num("seed", seed.toDouble).num("cpus", cpus)
      .num("jvm_start_s", jvmStartS).num("check_s", checkS)
      .num("setup_s", setup.total)
      .num("engine.session_s", setup.session)
      .num("engine.persist_tables_s", setup.persist)
      .num("setup.warmup_s", setup.warmup)
      .num("engine.cache_bytes", setup.cacheBytes.toDouble)
      .num("cold_pass_s", passS(0)).arr("pass_s", passS.drop(1))
      .arr("op_s", warm.map(_.wallS))
      .num("heap_live_mb", heapMb)
      .num("attempted", recs.size)
      .num("failed_ops", recs.count(!_.ok))
      .obj("ok_counts", recs.filter(_.ok).groupBy(_.name).map { case (k, v) => k -> v.size.toDouble })
      .strs("failed", recs.filterNot(_.ok).map(r => s"${r.name}: ${r.error}").distinct.toSeq)
      .obj("layers", layers ++ etl.filter(_ => tracer.on).map("pipeline.rows_in" -> _.rowsIn.toDouble))
      .raw("per_op", if (tracer.on) Tracer.perOp(tracer, warm) else "{}")
      .raw("check", check)
    Files.write(Paths.get(a("out")), j.result.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Dev switches that would change the measured program stop the run. */
  def refuseDevSwitches(conf: Map[String, String]): Unit = {
    require(!sys.env.contains("SPARK_EXTRA_CONF"),
      "SPARK_EXTRA_CONF is set: it would override the measured session's confs")
    require(!conf.contains("spark.graft.ckptBypassForExplain"),
      "spark.graft.ckptBypassForExplain is set: it removes every checkpoint")
    require(conf.getOrElse("spark.graft.streamResultMemo", "false") == "false",
      "spark.graft.streamResultMemo must be false: the memo replays old results")
  }

  private def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime(); val r = body; (r, (System.nanoTime() - t) / 1e9)
  }

  /** Session, confs, then (if `tables`) the table cache, then one warm-up
    * op. `Graph.warmDerived` is left out: no member reads the frames it
    * warms, and its 3-6 s would be paid in every run.
    */
  def setUp(cpus: Int, data: String, warmup: String, tables: Boolean): Setup = {
    val t0 = System.nanoTime()
    val (spark, sessionS) = timed {
      val s = Engine.session("perfbench", s"local[$cpus]")
      s.sparkContext.setLogLevel("ERROR")
      Engine.fixtureFloorConfs(s, data)
      s.conf.set("spark.graft.streamResultMemo", "false")
      // the engine's default streaming scratch is /dev/shm; the benchmark
      // writes only inside its own directory, so scratch goes to
      // java.io.tmpdir, which run.py points into the run's directory
      s.conf.set("spark.graft.streamScratchShm", "false")
      refuseDevSwitches(s.conf.getAll)
      s
    }
    val (_, persistS) = timed(if (tables) Engine.persistTables(spark, data))
    val (_, warmS) = timed(SparkEntry.queries(warmup)(spark, data)
      .write.format("noop").mode("overwrite").save())
    val cache = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    Setup((System.nanoTime() - t0) / 1e9, sessionS, persistS, warmS, cache)
  }

  def query(spark: SparkSession, t: Tracer, name: String, data: String): Map[String, Double] = {
    val df = t.span("queries.build")(SparkEntry.queries(name)(spark, data))
    df.write.format("noop").mode("overwrite").save()
    // the frame is analyzed where it is built, in its own QueryExecution;
    // the write's QueryExecution, which the listener sees, only wraps it
    if (t.on) df.queryExecution.tracker.phases.get("analysis")
      .map(p => Map("driver.analysis_ms" -> p.durationMs.toDouble)).getOrElse(Map.empty)
    else Map.empty
  }

  /** Time one op; free what it left persisted; never drop a failure. */
  def runOp(spark: SparkSession, t: Tracer, name: String, pass: Int,
            body: () => Map[String, Double]): OpRec = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val cg = t.codegenCompiles
    val s = System.currentTimeMillis(); val n = System.nanoTime()
    val (ok, err, counters) =
      try { val c = body(); (true, "", c) }
      catch { case NonFatal(e) =>
        (false, String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("").take(200),
          Map.empty[String, Double])
      }
    val wall = (System.nanoTime() - n) / 1e9
    val end = System.currentTimeMillis()
    val codegen = t.codegenCompiles - cg
    val leaked = sc.getPersistentRDDs.filterNot { case (id, _) => before.contains(id) }
    leaked.values.foreach(_.unpersist(blocking = false))
    if (!ok) System.err.println(s"[perfbench] $name failed: $err")
    OpRec(name, pass, s, end, wall, ok, err, codegen, leaked.size, counters)
  }

  /** One line per op window and per span, in start order. */
  def writeSpans(path: String, ops: Seq[OpRec], t: Tracer): Unit = {
    import scala.jdk.CollectionConverters._
    val lines = ops.map(o => o.startMs -> new Json().str("op", o.name).num("pass", o.pass)
        .num("start_ms", o.startMs.toDouble).num("end_ms", o.endMs.toDouble).num("s", o.wallS).bool("ok", o.ok).result) ++
      t.spans.asScala.toSeq.map(s => s.startMs -> new Json().str("span", s.key)
        .num("start_ms", s.startMs.toDouble).num("end_ms", s.endMs.toDouble).num("s", s.seconds).result)
    Files.write(Paths.get(path),
      lines.sortBy(_._1).map(_._2).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** The least used heap over six full collections 200 ms apart: Spark
    * frees dropped shuffles, broadcasts and state stores on its own
    * threads, only after a collection finds them unreachable, so the first
    * collections can still count them (stopping at two equal readings
    * once read 193 MB where other runs of the same workload read 89 MB).
    */
  def liveHeapMb(): Double = {
    val mx = ManagementFactory.getMemoryMXBean
    (1 to 6).map { _ =>
      System.gc(); Thread.sleep(200); mx.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** Writes each member's output for the oracle compare in run.py. */
  def checkQueries(spark: SparkSession, members: Seq[String], data: String,
                   dir: String, etlProblems: Seq[String]): String = {
    val oracle = SparkEntry.oracleSql
    val errors = ArrayBuffer.empty[String]
    members.distinct.sorted.filter(oracle.contains).foreach { n =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      try SparkEntry.queries(n)(spark, data).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$n")
      catch { case NonFatal(e) => errors += s"$n: ${e.getMessage}".take(300) }
      spark.sparkContext.getPersistentRDDs.filterNot { case (id, _) => before.contains(id) }
        .values.foreach(_.unpersist(blocking = false))
    }
    val j = new Json
    j.str("dir", dir)
      .rawObj("oracle_sql", members.distinct.sorted.flatMap(n => oracle.get(n).map(n -> _)))
      .strs("errors", errors.toSeq ++ etlProblems)
    j.result
  }
}

/** A minimal JSON object writer for the result file. */
class Json {
  private val b = new StringBuilder("{")
  private def key(k: String): StringBuilder = {
    if (b.length > 1) b += ','
    b ++= Json.q(k) += ':'
  }
  private def n(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(k: String, v: String): Json = { key(k) ++= Json.q(v); this }
  def num(k: String, v: Double): Json = { key(k) ++= n(v); this }
  def arr(k: String, vs: Seq[Double]): Json = { key(k) ++= vs.map(n).mkString("[", ",", "]"); this }
  def strs(k: String, vs: Seq[String]): Json = { key(k) ++= vs.map(Json.q).mkString("[", ",", "]"); this }
  def obj(k: String, m: Map[String, Double]): Json = {
    key(k) ++= m.toSeq.sortBy(_._1).map { case (x, v) => Json.q(x) + ":" + n(v) }.mkString("{", ",", "}"); this
  }
  def rawObj(k: String, m: Seq[(String, String)]): Json = {
    key(k) ++= m.map { case (x, v) => Json.q(x) + ":" + Json.q(v) }.mkString("{", ",", "}"); this
  }
  def raw(k: String, json: String): Json = { key(k) ++= json; this }
  def bool(k: String, v: Boolean): Json = { key(k) ++= v.toString; this }
  def result: String = b.toString + "}"
}

object Json {
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
