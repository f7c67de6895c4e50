package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BusDrain
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.{Graft, SparkEntry, Tables}

/** The benchmark's JVM side. It drives the engine only through its
  * public entry points: `Tables.load`/`Tables.events` resolve the
  * workload's tables, `SparkEntry.queries(name)(spark, dir)` constructs
  * each query, and a `format("noop")` write materializes every column
  * of every result. One query runs at a time on one session
  * (a closed loop with one client).
  *
  * Usage (arguments are `key=value`; `perfbench/run.py` builds them):
  *   data=<dir> tables=a,b queries=q1,q2 seconds=<s> setups=<n> warmup=<s>
  *   trace=0|1 cores=<n> work=<dir> out=<json>
  *   ann=q1,.. kernels=k1,..
  *
  * The harness sets up `setups` times (session plus resolved tables),
  * times one cold pass, runs untimed passes for `warmup` seconds, times
  * warm passes
  * for `seconds` (at least three) and ends with an untimed correctness
  * pass that dumps every oracle-covered result to parquet and checks ANN
  * recall. With `trace=1`, warm passes alternate untraced and traced, and
  * the run also times `count()` per query and the workload's kernels
  * alone. The result goes to `out` as JSON. */
object Harness {
  private def now: Double = System.nanoTime() / 1e9
  private def epochMs: Double = System.currentTimeMillis().toDouble

  def main(argv: Array[String]): Unit = {
    val arg = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    def list(k: String) = arg.getOrElse(k, "").split(",").filter(_.nonEmpty).toSeq
    val work = arg("work")
    val cores = arg("cores").toInt
    val tables = list("tables")
    val out = mutable.LinkedHashMap.empty[String, Any]

    def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    // set-up 1 runs from JVM launch (run.py times it to `ready_epoch_ms`);
    // the others stop the SparkContext and build session and tables again
    var spark = session()
    val resolveS = mutable.ArrayBuffer(resolve(spark, arg("data"), tables))
    out("ready_epoch_ms") = epochMs
    out("resetup_s") = (2 to arg("setups").toInt).map { _ =>
      spark.stop()
      val t = now
      spark = session()
      resolveS += resolve(spark, arg("data"), tables)
      now - t
    }
    out("resolve_s") = resolveS.toSeq
    run(spark, arg, list, cores, out)
    spark.stop()
    Files.writeString(Paths.get(arg("out")), Json(out))
  }

  /** Resolves every table of the workload in `dir`; returns seconds. */
  private def resolve(spark: SparkSession, dir: String, tables: Seq[String]): Double = {
    val t = now
    tables.foreach { n =>
      if (n == "events") Tables.events(spark, dir) else Tables.load(spark, dir, n)
    }
    now - t
  }

  private final case class QRec(name: String, qid: Int, ok: Boolean, err: String,
                                start: Double, cEnd: Double, end: Double,
                                constructS: Double, execS: Double, builds: Int,
                                persistedMb: Double, gcS: Double, rows: Long)

  private def run(spark: SparkSession, arg: Map[String, String],
                  list: String => Seq[String], cores: Int,
                  out: mutable.LinkedHashMap[String, Any]): Unit = {
    val sc = spark.sparkContext
    val work = arg("work")
    val data = arg("data")
    val names = list("queries")
    val traced = arg("trace") == "1"
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcS = gcBeans.map(_.getCollectionTime.max(0L)).sum / 1e3
    val jit = ManagementFactory.getCompilationMXBean
    def jitS = jit.getTotalCompilationTime / 1e3
    val classLoading = ManagementFactory.getClassLoadingMXBean
    def codeCacheMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap")).map(_.getUsage.getUsed).sum / 1e6
    // every IndexCache build lands in a fresh "graft*" temp directory
    def indexDirs = Option(tmp.list()).map(_.count(_.startsWith("graft"))).getOrElse(0)
    def storedMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

    // the same settle graft.Bench runs between queries
    def settle(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
    }

    var qid = 0
    // a traced query also counts its result rows with an observation on
    // the sink, which adds no job
    def runQuery(name: String, withTrace: Boolean): QRec = {
      qid += 1
      val (g0, b0) = (gcS, indexDirs)
      val start = epochMs
      val s0 = now
      var cEnd = start
      var c1 = s0
      val obs = new Observation(s"rows$qid")
      val err = try {
        sc.setJobGroup(s"pb:$qid:construct", name)
        val df = SparkEntry.queries(name)(spark, data)
        c1 = now; cEnd = epochMs
        sc.setJobGroup(s"pb:$qid:exec", name)
        (if (withTrace) df.observe(obs, count(lit(1)).as("rows")) else df)
          .write.format("noop").mode("overwrite").save()
        ""
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e"); String.valueOf(e)
      } finally sc.clearJobGroup()
      val e1 = now
      val end = epochMs
      val persisted = if (withTrace) storedMb else 0.0
      val rows = if (withTrace && err.isEmpty) obs.get("rows").asInstanceOf[Long] else 0L
      QRec(name, qid, err.isEmpty, err, start, cEnd, end, c1 - s0, e1 - c1,
        indexDirs - b0, persisted, gcS - g0, rows)
    }

    val trace = new Trace
    val qeListeners = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .listenerManager
    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    var spanId = 0
    def span(parent: Int, kind: String, name: String, qid: Int,
             start: Double, end: Double): Int = {
      spanId += 1
      spans += Map("id" -> spanId, "parent" -> parent, "kind" -> kind,
        "name" -> name, "qid" -> qid, "start_ms" -> start, "end_ms" -> end)
      spanId
    }

    def pass(kind: String, withTrace: Boolean): Map[String, Any] = {
      if (withTrace) {
        trace.clear(); sc.addSparkListener(trace); qeListeners.register(trace)
      }
      val (p0, e0, g0, j0, l0) = (now, epochMs, gcS, jitS, classLoading.getTotalLoadedClassCount)
      val recs = names.map { n => val r = runQuery(n, withTrace); settle(); r }
      val elapsed = now - p0
      val res = mutable.LinkedHashMap[String, Any](
        "kind" -> kind, "traced" -> withTrace,
        "wall_s" -> recs.map(r => r.constructS + r.execS).sum,
        "elapsed_s" -> elapsed,
        "start_epoch_ms" -> e0, "gc_s" -> (gcS - g0), "jit_s" -> (jitS - j0),
        "classes_loaded" -> (classLoading.getTotalLoadedClassCount - l0),
        "code_cache_mb" -> codeCacheMb,
        "queries" -> recs.map(r => Map("name" -> r.name, "ok" -> r.ok,
          "err" -> r.err, "construct_s" -> r.constructS, "exec_s" -> r.execS,
          "builds" -> r.builds)))
      if (withTrace) {
        BusDrain(sc)
        sc.removeSparkListener(trace); qeListeners.unregister(trace)
        res("layers") = layers(recs, cores)
        val p = span(0, "pass", kind, 0, recs.head.start, recs.last.end)
        recs.foreach(r => spanQuery(p, r))
      }
      res.toMap
    }

    // pass -> query -> {construct, exec} -> job -> stage
    def spanQuery(parent: Int, r: QRec): Unit = trace.synchronized {
      val q = span(parent, "query", r.name, r.qid, r.start, r.end)
      val phase = Map(
        "construct" -> span(q, "construct", r.name, r.qid, r.start, r.cEnd),
        "exec" -> span(q, "exec", r.name, r.qid, r.cEnd, r.end))
      val jobSpan = trace.jobs.values.filter(_.group.startsWith(s"pb:${r.qid}:"))
        .map { j =>
          val ph = phase(j.group.split(":")(2))
          j.id -> span(ph, "job", s"job ${j.id}", r.qid, j.start.toDouble,
            (if (j.end < 0) j.start else j.end).toDouble)
        }.toMap
      trace.stages.filter(s => jobSpan.contains(s.job)).foreach { s =>
        span(jobSpan(s.job), "stage", s"stage ${s.id}", r.qid,
          s.submit.toDouble, s.done.toDouble)
      }
    }

    def layers(recs: Seq[QRec], cores: Int): Map[String, Any] = trace.synchronized {
      val qids = recs.map(_.qid).toSet
      def qidOf(group: String) =
        if (group.startsWith("pb:")) group.split(":")(1).toInt else -1
      val jobs = trace.jobs.values.filter(j => qids(qidOf(j.group))).toSeq
      val jobIds = jobs.map(_.id).toSet
      val tasks = trace.tasks.filter(t => jobIds(t.job)).toSeq
      val constructS = recs.map(_.constructS).sum
      val execS = recs.map(_.execS).sum
      val runS = tasks.map(_.runMs).sum / 1e3
      // wall time in each query's window during which no task ran
      val noTaskS = recs.map { r =>
        val jq = jobs.filter(j => qidOf(j.group) == r.qid).map(_.id).toSet
        val iv = tasks.filter(t => jq(t.job))
          .map(t => (t.launch.toDouble max r.start, t.finish.toDouble min r.end))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0.0
        var reach = r.start
        iv.foreach { case (a, b) =>
          if (b > reach) { covered += b - (a max reach); reach = b }
        }
        (r.end - r.start - covered) / 1e3
      }.sum
      val (lo, hi) = (recs.head.start, recs.last.end)
      Map(
        "Queries.construct_s" -> constructS,
        "Queries.construct_jobs" -> jobs.count(_.group.endsWith(":construct")),
        "plans.plan_s" -> trace.plans.filter(p => p.start >= lo && p.start <= hi)
          .map(_.ms).sum / 1e3,
        "ops.exec_s" -> execS,
        "ops.jobs" -> jobs.size,
        "ops.stages" -> trace.stages.count(s => jobIds(s.job)),
        "ops.tasks" -> tasks.size,
        "ops.no_task_s" -> noTaskS,
        "ops.executor_run_s" -> runS,
        "ops.executor_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
        "ops.core_util" -> runS / ((constructS + execS) * cores),
        "ops.shuffle_write_mb" -> tasks.map(_.shWrite).sum / 1e6,
        "ops.shuffle_read_mb" -> tasks.map(_.shRead).sum / 1e6,
        "ops.spill_mb" -> tasks.map(_.spill).sum / 1e6,
        "ops.gc_s" -> recs.map(_.gcS).sum,
        "ops.persisted_mb" -> recs.map(_.persistedMb).max,
        "ops.output_mb" -> tasks.map(_.outBytes).sum / 1e6,
        "ops.result_rows" -> recs.map(_.rows).sum,
        "sources.read_mb" -> tasks.map(_.inBytes).sum / 1e6,
        "sources.records_read" -> tasks.map(_.inRecs).sum,
        "IndexCache.builds" -> recs.map(_.builds).sum)
    }

    settle()
    out("cold") = pass("cold", withTrace = false)
    // passes right after the cold one keep speeding up for several
    // seconds while the JIT settles; they are executed, not timed
    val warmup = mutable.ArrayBuffer.empty[Map[String, Any]]
    val u0 = now
    while (warmup.isEmpty || now - u0 < arg("warmup").toDouble)
      warmup += pass("warmup", withTrace = false)
    out("warmup") = warmup.toSeq
    val warm = mutable.ArrayBuffer.empty[Map[String, Any]]
    val seconds = arg("seconds").toDouble
    val minPasses = if (traced) 4 else 3
    val w0 = now
    while (warm.size < minPasses || now - w0 < seconds)
      warm += pass("warm", withTrace = traced && warm.size % 2 == 1)
    out("warm") = warm.toSeq
    out("rss_hwm_mb") = vmHwmMb()

    if (traced) {
      out("count_s") = names.map { n =>
        val t = now
        val ok = try { SparkEntry.queries(n)(spark, data).count(); true }
                 catch { case _: Throwable => false }
        val s = now - t
        settle()
        n -> (if (ok) s else -1.0)
      }.toMap
      out("kernel_s") = kernels(spark, data, list("kernels"))
      out("spans") = spans.toSeq
    }
    val c0 = now
    out("correctness") = correctness(spark, data, names, list("ann"), work, settle _)
    out("correctness_s") = now - c0
  }

  /** Untimed correctness pass: dumps each oracle-covered result as
    * graft.Verify does, and checks ANN results for recall@3 against
    * the exact neighbours at the engine's own 0.85 floor. */
  private def correctness(spark: SparkSession, dir: String, names: Seq[String],
                          ann: Seq[String], work: String,
                          settle: () => Unit): Map[String, Any] = {
    val oracle = SparkEntry.oracleSql
    val dump = s"$work/dump"
    val errors = mutable.LinkedHashMap.empty[String, String]
    val recall = mutable.LinkedHashMap.empty[String, Double]
    lazy val exact = pairs(Graft.knnExhaustive(Tables.embeddings(spark, dir), 3))
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, dir)
        // graft.Verify writes coalesce(1); one file per partition, read back
        // in part-file order, holds the same rows in the same order
        // without serializing the query's last stage onto one core
        if (oracle.contains(n))
          df.write.mode("overwrite").parquet(s"$dump/$n")
        else if (ann.contains(n)) {
          val got = pairs(df)
          recall(n) = (got & exact).size.toDouble / exact.size
        } else errors(n) = "no oracle and no recall check"
      } catch { case e: Throwable => errors(n) = String.valueOf(e) }
      settle()
    }
    val sqls = names.filter(n => oracle.contains(n) && !errors.contains(n))
      .map(n => n -> oracle(n)).toMap
    Files.writeString(Paths.get(s"$dump/oracle_sql.json"), Json(sqls))
    Map("dump" -> dump, "errors" -> errors.toMap, "recall" -> recall.toMap)
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** The workload's graft.functions kernels applied alone to its input,
    * each materialized through the noop sink; median of three runs. */
  private def kernels(spark: SparkSession, dir: String,
                      ks: Seq[String]): Map[String, Double] = {
    graft.functions.GraftFunctions.registerAll(spark)
    Seq("documents", "embeddings").foreach(t =>
      Tables.load(spark, dir, t).createOrReplaceTempView(t))
    val toks = "split(lower(trim(text)), '\\\\s+')"
    def vec(t: String) = s"cast($t.embedding as array<double>)"
    val pairsOn = "FROM embeddings a JOIN embeddings b ON a.vec_id % 64 = b.vec_id % 64"
    val sql = Map(
      "simhash" -> s"SELECT graft_simhash64($toks) FROM documents",
      "minhash" ->
        s"SELECT graft_minhash_sig(graft_shingle_hashes($toks, 3, 2147483647)) FROM documents",
      "dot" -> s"SELECT graft_dot(${vec("a")}, ${vec("b")}) $pairsOn",
      "topk_pairs" ->
        s"""SELECT a.vec_id, graft_topk(graft_dot(${vec("a")}, ${vec("b")}), b.vec_id, 10, true)
            $pairsOn GROUP BY a.vec_id""")
    ks.map { k =>
      val ts = (1 to 3).map { _ =>
        val t = now
        spark.sql(sql(k)).write.format("noop").mode("overwrite").save()
        now - t
      }.sorted
      k -> ts(1)
    }.toMap
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

}

/** Minimal JSON writer for the harness's result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
