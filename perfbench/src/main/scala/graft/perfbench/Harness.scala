package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{Engine, GraftSession, Serving, SparkEntry}
import graft.operators.{TextPipeline, VectorSearch}
import graft.wire.WireServer

/** The JVM side of the benchmark: one run of one workload.
  *
  * Usage: Harness <inputs.json> <workDir>
  *
  * Every input comes from `inputs.json`, which `run.py` derives from the
  * seed. The harness times the calls it makes into the engine's public
  * functions, writes the outputs the checks need into `workDir`, and
  * ends with `result.json` there. It checks nothing itself.
  */
object Harness {

  private def nowMs(): Long = System.currentTimeMillis()
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs(): Long = osBean.getProcessCpuTime
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** (steal, total) jiffies from /proc/stat's cpu line. */
  private def procStat(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }
  private def loadavg1(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** JIT, GC, steal and load over a timed part. */
  final class HostWindow {
    private val j0 = jitMs(); private val g0 = gcMs(); private val (s0, t0) = procStat()
    private val w0 = System.nanoTime()
    def close(): Map[String, Double] = {
      val (s1, t1) = procStat()
      val secs = (System.nanoTime() - w0) / 1e9
      Map("timed_s" -> secs,
        "jit_ms" -> (jitMs() - j0).toDouble, "gc_ms" -> (gcMs() - g0).toDouble,
        "steal_frac" -> (if (t1 > t0) (s1 - s0).toDouble / (t1 - t0) else 0.0),
        "loadavg1" -> loadavg1())
    }
  }

  def main(args: Array[String]): Unit = {
    val in = new ObjectMapper().readTree(Paths.get(args(0)).toFile)
    val work = Paths.get(args(1)).toAbsolutePath
    val workload = in.get("workload").asText
    val sf = in.get("sf").asText
    val cores = in.get("cores").asInt
    val trace = in.get("trace").asBoolean
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Engine.prepare(spark)
    val spans = new Spans(trace)
    val result: Map[String, Any] = workload match {
      case "relational_mix" | "pipeline_mix" =>
        new Mix(spark, sf, in, work, trace, spans).run()
      case "wire_traffic" =>
        new Wire(spark, sf, in, work, trace, spans).run()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (trace) spans.write(work.resolve("spans.jsonl"))
    // driver heap still in use once everything the run made is garbage
    Engine.releaseEphemeral(spark)
    System.gc(); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    Files.writeString(work.resolve("result.json"),
      Json.write(result + ("retained_heap_mb" -> heapMb)))
    spark.stop()
  }

  /** Rows of a collected frame, written back as parquet for the oracle
    * compare (outside any timed part). */
  def dump(spark: SparkSession, rows: Array[Row], df: DataFrame, dir: Path): Unit =
    spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
      .write.mode("overwrite").parquet(dir.toString)

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  // ------------------------------------------------------------------ mixes

  /** Closed-loop passes over a fixed list of named queries. A pass builds
    * each query's DataFrame (`SparkEntry.queries(name)`), collects it,
    * and releases the query's ephemeral caches, as the bench lifecycle
    * does. */
  final class Mix(spark: SparkSession, sf: String, in: JsonNode, work: Path,
      trace: Boolean, spans: Spans) {
    private val names = strings(in.get("queries"))
    private val fns = names.map(n => n -> SparkEntry.queries(n)).toMap
    private val warmPasses = in.get("warm_passes").asInt
    private val timedPasses = in.get("timed_passes").asInt
    private var errors = Vector.empty[String]
    private val ctr = new Counters
    spark.sparkContext.addSparkListener(ctr)

    /** One untraced pass: wall s, process CPU s, JIT ms, per-query ms
      * and, when `keep`, every query's rows. */
    private def plainPass(keep: Boolean): (Map[String, Any], Map[String, (Array[Row], DataFrame)]) = {
      val s0 = ctr.snap(spark)
      val j0 = jitMs(); val c0 = cpuNs(); val t0 = System.nanoTime()
      var kept = Map.empty[String, (Array[Row], DataFrame)]
      val queryMs = names.map { n =>
        val q0 = System.nanoTime()
        try {
          val df = fns(n)(spark, sf)
          val rows = df.collect()
          if (keep) kept += n -> (rows, df)
        } catch { case e: Exception => errors :+= s"$n: ${e.getClass.getSimpleName}: ${e.getMessage}" }
        Engine.releaseEphemeral(spark)
        (System.nanoTime() - q0) / 1e6
      }
      val (wall, cpu) = ((System.nanoTime() - t0) / 1e9, (cpuNs() - c0) / 1e9)
      val d = ctr.snap(spark) - s0
      (d.toMap ++ Map("wall_s" -> wall, "cpu_s" -> cpu,
        "jit_ms" -> (jitMs() - j0).toDouble, "query_ms" -> queryMs), kept)
    }

    /** One traced pass: per-query build and execute spans, listener
      * counts, Catalyst phase times and cache use. Returns per-layer sums
      * for the pass; listener drains fall outside the spans. */
    private def tracedPass(p: Int): Map[String, Double] = {
      val acc = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
      spans(s"pass", s"pass$p") { pid =>
        names.foreach { n =>
          val req = s"pass$p/$n"
          val s0 = ctr.snap(spark)
          val df = spans("build", req, pid)(_ => fns(n)(spark, sf))
          val s1 = ctr.snap(spark)
          spans("execute", req, pid)(_ => df.collect())
          val s2 = ctr.snap(spark)
          val ph = df.queryExecution.tracker.phases
          def phase(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
          acc("catalyst.analysis_ms") += phase("analysis")
          acc("catalyst.optimize_ms") += phase("optimization")
          acc("catalyst.planning_ms") += phase("planning")
          val b = s1 - s0; val e = s2 - s1
          acc("build.jobs") += b.jobs; acc("build.tasks") += b.tasks
          acc("build.stages_256plus") += b.stages256
          acc("exec.jobs") += e.jobs; acc("exec.stages") += e.stages
          acc("exec.stages_256plus") += e.stages256; acc("exec.tasks") += e.tasks
          acc("exec.task_run_ms") += e.runMs; acc("exec.task_cpu_ms") += e.cpuMs
          acc("exec.shuffle_bytes") += e.shuffleBytes; acc("exec.spill_bytes") += e.spillBytes
          acc("cache.persists") += Engine.releaseEphemeral(spark)
          ctr.snap(spark)
          acc("cache.bytes_left") += spark.sparkContext.getRDDStorageInfo
            .map(r => r.memSize + r.diskSize).sum.toDouble
        }
      }
      val mine = spans.all.filter(_.req.startsWith(s"pass$p/"))
      acc("build.ms") = mine.filter(_.name == "build").map(_.ms).sum
      acc("exec.ms") = mine.filter(_.name == "execute").map(_.ms).sum
      acc("pass_s") = (acc("build.ms") + acc("exec.ms")) / 1000
      acc.toMap
    }

    def run(): Map[String, Any] = {
      // warm-up: a fixed number of whole passes, so that set-up time is
      // comparable between runs (JIT time per pass is reported, not waited out)
      val warm = (1 to warmPasses).map(_ => plainPass(keep = false)._1)
      val firstTimed = nowMs()
      val host = new HostWindow
      var passes = Vector.empty[Map[String, Any]]
      var traced = Vector.empty[Map[String, Double]]
      var kept = Map.empty[String, (Array[Row], DataFrame)]
      // timed part: a fixed number of whole passes (run.py sizes it from
      // --seconds); a traced run follows each untraced pass with a traced one
      for (_ <- 1 to timedPasses) {
        val (p, k) = plainPass(keep = true)
        kept = k
        passes :+= p
        if (trace) traced :+= tracedPass(traced.size)
      }
      val hw = host.close()
      spark.sparkContext.removeSparkListener(ctr)
      // the last untraced pass's outputs, for the oracle compare
      kept.foreach { case (n, (rows, df)) => dump(spark, rows, df, work.resolve("out").resolve(n)) }
      val oracles = SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }
      Files.writeString(work.resolve("oracles.json"), Json.write(oracles))
      Map("first_timed_ms" -> firstTimed, "warm" -> warm,
        "passes" -> passes, "traced" -> traced, "host" -> hw,
        "queries" -> names, "attempted" -> (passes.size + traced.size) * names.size, "errors" -> errors)
    }
  }

  // ------------------------------------------------------------------- wire

  /** A WireServer on loopback: a serving phase of `conns` closed-loop
    * connections, then an ingest phase on one connection. */
  final class Wire(spark: SparkSession, sf: String, in: JsonNode, work: Path,
      trace: Boolean, spans: Spans) {
    private val pointSql =
      "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate FROM orders WHERE o_orderkey = $1"
    private val liCols = "l_orderkey int8, l_partkey int8, l_suppkey int4, l_linenumber int4, " +
      "l_quantity float8, l_extendedprice float8, l_discount float8, l_tax float8, " +
      "l_returnflag varchar(1), l_linestatus varchar(1), l_shipdate varchar(10), l_comment varchar(64)"
    private val aggSql = "SELECT count(*) AS n, sum(l_orderkey) AS s_orderkey, " +
      "sum(l_linenumber) AS s_linenumber, " +
      "sum(CAST(l_quantity AS DECIMAL(18,2))) AS s_quantity, " +
      "sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS s_extendedprice, " +
      "sum(CAST(l_discount AS DECIMAL(18,2))) AS s_discount, " +
      "count(DISTINCT l_shipdate) AS d_shipdate FROM "

    private def callSql(op: Seq[String]): String = op match {
      case Seq("ann", q) => s"SELECT * FROM graft_ann_topk($q, 10)"
      case Seq("bm25", t) => s"SELECT * FROM graft_bm25_topk('$t', 20)"
      case Seq("hybrid", q, t) => s"SELECT * FROM graft_hybrid_topk($q, '$t', 20)"
      case Seq("point", k) => pointSql.replace("$1", k)
    }

    private def call(c: Pg, op: Seq[String]): Pg.Result =
      if (op.head == "point") c.execPrepared("pt", pointSql, Seq(20), Seq(op(1)))
      else c.query(callSql(op))

    private def dirStats(d: Path): (Long, Int) =
      if (!Files.exists(d)) (0L, 0)
      else {
        val fs = Files.list(d).iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
        (fs.map(Files.size).sum, fs.size)
      }

    def run(): Map[String, Any] = {
      val ops: Seq[Seq[Seq[String]]] = in.get("serving").elements().asScala.map(conn =>
        conn.elements().asScala.map(op => strings(op)).toSeq).toSeq
      val csvs = in.get("csvs").elements().asScala.map(_.asText).toSeq
      val serveRounds = in.get("serve_rounds").asInt
      val ingestRounds = in.get("ingest_rounds").asInt
      val indexS0 = System.nanoTime()
      Serving.buildIndexes(spark, sf, "serve")
      Serving.install(spark, "serve")
      val indexS = (System.nanoTime() - indexS0) / 1e9
      val server = new WireServer(spark, Some(sf)).start()
      val ctr = new Counters
      spark.sparkContext.addSparkListener(ctr)
      try {
        val nConn = ops.size
        val clients = (0 until nConn).map(_ => new Pg(server.boundPort))
        val roundLen = 4
        // warm-up: a small COPY round trip; serving calls start cold
        val ing = clients.head
        val schema = s"CREATE TABLE %s ($liCols)"
        ing.query(schema.format("li_warm"))
        val warmLines = in.get("warm_lines").asInt
        ing.copyIn("COPY li_warm FROM STDIN", Files.readAllLines(Paths.get(csvs.head)).asScala
          .take(warmLines).mkString("", "\n", "\n").getBytes(UTF_8))
        ing.query(aggSql + "li_warm")

        val firstTimed = nowMs()
        val host = new HostWindow
        // serving phase: every connection runs a fixed number of whole
        // rounds (ann, bm25, hybrid, point), closed loop
        val calls = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
        val (s0, sn0) = (System.nanoTime(), ctr.snap(spark))
        par(nConn) { i =>
          val c = clients(i)
          var r = 0
          while (r < serveRounds) {
            val round = ops(i).slice((r * roundLen) % ops(i).size, (r * roundLen) % ops(i).size + roundLen)
            round.foreach { op =>
              val req = s"c$i/r$r/${op.head}"
              val b0 = c.bytesIn
              val t0 = System.nanoTime()
              val res = try Right(spans("wire.call", req)(_ => call(c, op))) catch { case e: Exception => Left(e.getMessage) }
              val ms = (System.nanoTime() - t0) / 1e6
              calls.add(Map("kind" -> op.head, "args" -> op.tail, "ms" -> ms, "bytes" -> (c.bytesIn - b0),
                "rows" -> res.map(_.rows).getOrElse(Seq.empty), "cols" -> res.map(_.cols).getOrElse(Seq.empty),
                "error" -> res.left.toOption))
            }
            r += 1
          }
        }
        val serveWall = (System.nanoTime() - s0) / 1e9
        val serveCounts = ctr.snap(spark) - sn0

        // ingest phase: a fixed number of whole rounds on one connection
        val copies = Vector.newBuilder[Map[String, Any]]
        var r = 0
        while (r < ingestRounds) {
          val csv = Paths.get(csvs(r % csvs.size)); val payload = Files.readAllBytes(csv)
          val (tIn, tFile) = (s"li_in_$r", s"li_file_$r")
          ing.query(schema.format(tIn)); ing.query(schema.format(tFile))
          val req = s"ingest/r$r"
          val (r0, c0, n0) = (System.nanoTime(), cpuNs(), ctr.snap(spark))
          var sentNs = 0L
          val inS = timeS(spans("wire.copy_in", req)(_ => { sentNs = ing.copyIn(s"COPY $tIn FROM STDIN", payload)._2 }))
          val agg = ing.query(aggSql + tIn)
          val outPath = work.resolve(s"copyout_$r.csv")
          var outBytes = 0L
          val outS = timeS {
            val os = new java.io.BufferedOutputStream(Files.newOutputStream(outPath), 1 << 16)
            try outBytes = spans("wire.copy_out", req)(_ => ing.copyOut(s"COPY $tIn TO STDOUT", os)._2) finally os.close()
          }
          val fileS = timeS(spans("wire.copy_file", req)(_ => ing.query(s"COPY $tFile FROM '${csv.toAbsolutePath}'")))
          val fileAgg = ing.query(aggSql + tFile)
          val (roundS, roundCpuS) = ((System.nanoTime() - r0) / 1e9, (cpuNs() - c0) / 1e9)
          val roundCounts = ctr.snap(spark) - n0
          val (stored, files) = dirStats(work.resolve("warehouse").resolve(tIn))
          copies += roundCounts.toMap ++ Map("round" -> r, "csv" -> csv.toString, "in_bytes" -> payload.length, "in_s" -> inS,
            "sent_ms" -> sentNs / 1e6, "out_bytes" -> outBytes, "out_s" -> outS, "out_path" -> outPath.toString,
            "file_s" -> fileS, "round_s" -> roundS, "round_cpu_s" -> roundCpuS, "stored_bytes" -> stored, "files" -> files,
            "agg" -> Map("cols" -> agg.cols, "row" -> agg.rows.head),
            "file_agg" -> Map("cols" -> fileAgg.cols, "row" -> fileAgg.rows.head))
          r += 1
        }
        val hw = host.close()
        val layers = if (trace) tracedLayers(clients.head, csvs, server.boundPort, ctr) else Map.empty[String, Double]
        clients.foreach(_.close())
        val callSeq = calls.asScala.toSeq
        Map("first_timed_ms" -> firstTimed, "index_build_s" -> indexS, "calls" -> callSeq,
          "serve_wall_s" -> serveWall, "serve_counts" -> serveCounts.toMap, "copies" -> copies.result(),
          "host" -> hw, "layers" -> layers,
          "oracle" -> Map("ivfpq_ctes" -> VectorSearch.oracleIvfPqCtes(16, 3,
            qidPred = "IN (__QIDS__)"), "tokens" -> TextPipeline.oracleTokens),
          "attempted" -> (callSeq.size + 3 * r), "errors" -> callSeq.flatMap(_.get("error").flatMap(_.asInstanceOf[Option[String]])))
      } finally server.close()
    }

    private def timeS(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }

    private def par(n: Int)(body: Int => Unit): Unit = {
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val ts = (0 until n).map(i => new Thread(() => try body(i) catch { case e: Throwable => errs.add(e) },
        s"perfbench-client-$i"))
      ts.foreach(_.start()); ts.foreach(_.join())
      if (!errs.isEmpty) throw errs.peek()
    }

    /** The traced split, after the timed phases, on an idle server:
      * protocol cost against in-process calls of the same statements,
      * serving build/execute split, and COPY parse+write in process. */
    private def tracedLayers(c: Pg, csvs: Seq[String], port: Int, ctr: Counters): Map[String, Double] = {
      def med(xs: Seq[Double]) = { val s = xs.sorted; if (s.isEmpty) 0.0 else s(s.size / 2) }
      val n = 9
      val ops: Seq[Seq[String]] = in.get("serving").get(0).elements().asScala.map(op => strings(op)).toSeq
      val points = ops.filter(_.head == "point").take(n)
      val sess = new GraftSession(spark, Some(sf))
      val utility = (0 until n).map(i => spans("wire.utility", s"util/$i")(_ => timeMs(c.query("SHOW batch_size"))))
      // the same lookups with and without a span around them, interleaved,
      // each going first every other time
      val (plainPt, wirePt) = points.zipWithIndex.map { case (op, i) =>
        def plain() = timeMs(call(c, op))
        def spanned() = spans("wire.point", s"pt/${op(1)}")(_ => timeMs(call(c, op)))
        if (i % 2 == 0) { val p = plain(); (p, spanned()) } else { val t = spanned(); (plain(), t) }
      }.unzip
      val localPt = points.map(op => spans("session.execute", s"pt/${op(1)}")(_ => timeMs(sess.execute(callSql(op)).collect())))
      val connects = (0 until 5).map(i => spans("wire.connect", s"connect/$i")(_ => timeMs(new Pg(port).close())))
      val serveOps = ops.filter(op => op.head != "point").take(6)
      val split = serveOps.map { op =>
        val req = s"serve/${op.mkString("/")}"
        val s0 = ctr.snap(spark)
        var df: DataFrame = null
        val b = spans("serving.build", req)(_ => timeMs { df = spark.sql(callSql(op)) })
        val e = spans("serving.execute", req)(_ => timeMs(df.collect()))
        val d = ctr.snap(spark) - s0
        (b, e, d)
      }
      val copies = csvs.take(2).zipWithIndex.map { case (p, i) =>
        val payload = new String(Files.readAllBytes(Paths.get(p)), UTF_8)
        val t = s"li_local_$i"
        c.query(s"CREATE TABLE $t ($liCols)")
        val sch = spark.table(t).schema
        val ms = spans("copy.parse_write", s"local/$i")(_ =>
          timeMs(sess.copyInRows(t, sch, graft.sources.Copy.Options(), payload)))
        ms
      }
      val calls = split.size.toDouble
      Map("wire.utility_rtt_ms" -> med(utility), "wire.overhead_ms" -> (med(wirePt) - med(localPt)),
        "wire.connect_ms" -> med(connects), "serving.build_ms" -> med(split.map(_._1)),
        "serving.exec_ms" -> med(split.map(_._2)),
        "serving.jobs_per_call" -> split.map(_._3.jobs).sum / calls,
        "exec.jobs" -> split.map(_._3.jobs).sum / calls, "exec.stages" -> split.map(_._3.stages).sum / calls,
        "exec.tasks" -> split.map(_._3.tasks).sum / calls,
        "exec.stages_256plus" -> split.map(_._3.stages256).sum / calls,
        "exec.task_run_ms" -> split.map(_._3.runMs).sum / calls, "exec.task_cpu_ms" -> split.map(_._3.cpuMs).sum / calls,
        "exec.shuffle_bytes" -> split.map(_._3.shuffleBytes).sum / calls,
        "exec.spill_bytes" -> split.map(_._3.spillBytes).sum / calls,
        "copy.parse_write_ms" -> med(copies), "trace.overhead_frac" -> (med(wirePt) / med(plainPt) - 1))
    }
    private def timeMs(body: => Any): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    }
  }
}
