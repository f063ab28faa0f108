package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.operators.Connectors
import graft.sources.catalog.StagingMaintenance

/** Executes one workload plan (written by run.py) against the program in a
  * single closed loop and writes every op's timing, result digest and, in a
  * traced run, its per-layer counters.
  *
  * Usage: Main <plan.json> <results.json>
  */
object Main {
  private val mapper = new ObjectMapper()
  private val Catalog = "bench_cat"

  def main(args: Array[String]): Unit = {
    // exit explicitly: Spark leaves non-daemon threads behind on failure
    val code = try {
      val plan = mapper.readTree(new File(args(0)))
      val res = new Runner(plan).run()
      Files.write(Paths.get(args(1)), mapper.writeValueAsBytes(res))
      0
    } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  /** Sorted, order-free digest of a result: equal rows give equal digests. */
  def digest(lines: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.sorted.foreach { l => md.update(l.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  final class Runner(plan: JsonNode) {
    private val corpus = plan.get("corpus").asText
    private val runDir = plan.get("run_dir").asText
    private val cores = plan.get("cores").asInt
    private val traced = plan.get("trace").asBoolean
    private val seconds = plan.get("seconds").asDouble
    private val out = mapper.createObjectNode()
    private val opsOut = out.putArray("ops")
    @volatile private var currentOp = -1L
    private val listener = new LayerListener(() => currentOp)
    /** First result of each (query, corpus dir): digest, rows and schema. */
    private val firstResult = mutable.LinkedHashMap.empty[(String, String), (String, Array[Row], StructType)]
    private val checkedKeys = mutable.LinkedHashSet.empty[(String, String)]
    private val headAfter = mutable.Map.empty[(String, Int), Long]
    private var lastWritten: Option[String] = None
    private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

    private def gc(): (Long, Long) =
      (gcBeans.map(_.getCollectionTime).sum, gcBeans.map(_.getCollectionCount).sum)

    private def session(): SparkSession = {
      val b = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.extensions", "graft.functions.GraftExtensions")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.ui.enabled", "false")
        // keep every file the session writes inside the run directory
        .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
        .config("spark.local.dir", s"$runDir/spark-local")
      if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
      val s = b.getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    def run(): ObjectNode = {
      val setup = out.putObject("setup")
      def phase[T](name: String)(body: => T): T = {
        val t0 = System.nanoTime()
        val r = body
        setup.put(name + "_s", (System.nanoTime() - t0) / 1e9)
        r
      }
      val spark = phase("session")(session())
      if (plan.path("prewarm").asBoolean(false))
        phase("prewarm")(Connectors.prewarmServingIndexes(spark, corpus))
      phase("warmup")(plan.get("warmup").elements().asScala.foreach { q =>
        val df = SparkEntry.queries(q.asText)(spark, corpus)
        val rows = df.collect()
        firstResult((q.asText, corpus)) = (digest(rows.toSeq.map(rowLine)), rows, df.schema)
      })
      if (plan.has("catalog")) phase("tables")(createTables(spark, plan.get("catalog")))
      val rounds = plan.get("rounds").elements().asScala
      // leading rounds run untimed in set-up, so the window starts warm
      phase("warm_rounds")((1 to plan.path("warm_rounds").asInt(0)).foreach { _ =>
        rounds.next().elements().asScala.foreach(op => runOp(spark, op, warmup = true))
      })
      if (traced) {
        // set-up's events must not reach the first op's totals
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.addSparkListener(listener)
        spark.listenerManager.register(listener)
      }
      val setupEnd = System.currentTimeMillis()
      out.put("setup_end_ms", setupEnd)
      // a fixed number of rounds, so the measured ops do not depend on host
      // speed; `seconds` only caps the window
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val maxRounds = plan.path("max_rounds").asInt(Int.MaxValue)
      var done = 0
      var measured = 0
      while (rounds.hasNext && measured < maxRounds && System.nanoTime() < deadline) {
        rounds.next().elements().asScala.foreach { op => runOp(spark, op, warmup = false); done += 1 }
        measured += 1
      }
      out.put("window_s", (System.currentTimeMillis() - setupEnd) / 1e3)
      out.put("ops_done", done)
      out.put("peak_rss_mb", peakRssMb())
      finish(spark)
      spark.stop()
      out
    }

    private def createTables(spark: SparkSession, cat: JsonNode): Unit = {
      spark.conf.set(s"spark.sql.catalog.$Catalog",
        classOf[graft.sources.catalog.GraftStagingCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$Catalog.root", cat.get("root").asText)
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $Catalog.ws")
      val seed = cat.get("seed_parquet").asText
      cat.get("tables").elements().asScala.foreach { t =>
        val name = t.get("name").asText
        spark.sql(s"CREATE TABLE $Catalog.ws.$name (k BIGINT NOT NULL, cust BIGINT, " +
          s"status STRING, cents BIGINT, prio STRING) ${t.get("props").asText}")
        spark.sql(s"INSERT INTO $Catalog.ws.$name SELECT k, cust, status, cents, prio " +
          s"FROM parquet.`$seed`")
        headAfter((name, 0)) = head(spark, name)
      }
    }

    private def head(spark: SparkSession, table: String): Long =
      StagingMaintenance.history(spark, Catalog, "ws", table)
        .selectExpr("max(version)").collect()(0).getLong(0)

    private def rowLine(r: Row): String =
      (0 until r.length).map(i => if (r.isNullAt(i)) "null" else r.get(i).toString).mkString("|")

    private def runOp(spark: SparkSession, op: JsonNode, warmup: Boolean): Unit = {
      val id = op.get("id").asLong
      val name = op.get("name").asText
      val kind = op.get("kind").asText
      val opTraced = traced && !warmup && op.path("traced").asBoolean(true)
      val rec = opsOut.addObject()
      rec.put("id", id).put("name", name).put("kind", kind).put("traced", opTraced)
      if (warmup) rec.put("warmup", true)
      if (op.has("table")) rec.put("table", op.get("table").asText)
      currentOp = id
      spark.sparkContext.setJobGroup(s"op-$id", name, interruptOnCancel = false)
      FsStats.enabled = opTraced
      Spans.enabled = opTraced
      val fs0 = if (opTraced) FsStats.snapshot() else null
      val (gcMs0, gcN0) = gc()
      var rows: Array[Row] = null
      var schema: StructType = null
      val t0 = System.nanoTime()
      try {
        op.get("type").asText match {
          case "query" =>
            val df = SparkEntry.queries(name)(spark, op.get("dir").asText)
            val t1 = System.nanoTime()
            rows = df.collect()
            rec.put("build_ms", (t1 - t0) / 1e6).put("action_ms", (System.nanoTime() - t1) / 1e6)
            schema = df.schema
          case "sql" =>
            rows = spark.sql(resolve(op.get("sql").asText, op)).collect()
          case "optimize" =>
            StagingMaintenance.optimize(spark, Catalog, "ws", op.get("table").asText)
          case "write" =>
            val dst = s"$runDir/written/w$id"
            spark.read.parquet(op.get("src").asText).selectExpr(
              op.get("columns").elements().asScala.map(_.asText).toSeq: _*)
              .write.parquet(dst)
            lastWritten = Some(dst)
            rec.put("path", dst)
          case "readback" =>
            rows = spark.read.parquet(lastWritten.get).selectExpr(
              op.get("aggs").elements().asScala.map(_.asText).toSeq: _*).collect()
        }
        rec.put("ms", (System.nanoTime() - t0) / 1e6)
        rec.put("ok", true)
      } catch {
        case e: Throwable =>
          rec.put("ms", (System.nanoTime() - t0) / 1e6)
          rec.put("ok", false)
          rec.put("error", s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      val t2 = System.nanoTime()
      FsStats.enabled = false
      val (gcMs1, gcN1) = gc()
      rec.put("gc_ms", gcMs1 - gcMs0).put("gc_count", gcN1 - gcN0)
      if (traced) {
        // every op of a traced run is drained, so an untraced op's events
        // never reach the next traced op; spans stay on until its events are in
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        val layers = listener.take()
        if (opTraced) {
          if (layers.foreignJobs > 0)
            throw new IllegalStateException(
              s"op $id ($name): ${layers.foreignJobs} job(s) outside job group op-$id in its totals")
          val fs1 = FsStats.snapshot()
          val fsNode = rec.putObject("fs")
          FsStats.Names.zipWithIndex.foreach { case (n, i) => fsNode.put(n, fs1(i) - fs0(i)) }
          putLayers(rec, layers)
          Spans.add(Span("op", name, Spans.nanoToEpochMs(t0), Spans.nanoToEpochMs(t2), id))
        }
      }
      Spans.enabled = false
      spark.sparkContext.clearJobGroup()
      currentOp = -1L
      if (rec.get("ok").asBoolean) check(spark, op, rec, rows, schema)
      if (traced) {
        // the check's own jobs (a commit's head-version lookup) are no op's
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        listener.take()
      }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }

    /** `{v:N}` in a statement names the table version that statement N made. */
    private def resolve(sql: String, op: JsonNode): String =
      "\\{v:(\\d+)\\}".r.replaceAllIn(sql, m =>
        headAfter((op.get("table").asText, m.group(1).toInt)).toString)

    /** Untimed result handling: later results of a query must match the
      * digest of its first one, which [[finish]] writes for the DuckDB oracle.
      */
    private def check(spark: SparkSession, op: JsonNode, rec: ObjectNode, rows: Array[Row],
        schema: StructType): Unit = {
      val name = op.get("name").asText
      op.get("type").asText match {
        case "query" =>
          val d = digest(rows.toSeq.map(rowLine))
          val key = (name, op.get("dir").asText)
          rec.put("rows", rows.length).put("digest", d)
          checkedKeys += key
          firstResult.get(key) match {
            case None => firstResult(key) = (d, rows, schema)
            case Some((first, _, _)) => rec.put("same_as_first", first == d)
          }
        case "sql" | "optimize" if op.get("kind").asText == "commit" =>
          val t = op.get("table").asText
          val v = head(spark, t)
          headAfter((t, op.get("stmt").asInt)) = v
          rec.put("version", v)
        case "sql" | "readback" =>
          rec.put("rows", rows.length).put("digest", digest(rows.toSeq.map(rowLine)))
          if (op.get("type").asText == "readback") rec.put("values", rows.headOption.map(rowLine).orNull)
        case _ =>
      }
    }

    private def putLayers(rec: ObjectNode, a: OpLayers): Unit = {
      val n = rec.putObject("layers")
      n.put("jobs", a.jobs).put("stages", a.stages).put("tasks", a.tasks)
        .put("failed_tasks", a.failedTasks).put("task_run_ms", a.taskRunMs)
        .put("task_cpu_ms", a.taskCpuNs / 1e6).put("task_wait_ms", a.taskWaitMs)
        .put("input_bytes", a.inputBytes).put("shuffle_read_bytes", a.shuffleReadBytes)
        .put("shuffle_write_bytes", a.shuffleWriteBytes).put("spill_bytes", a.spillBytes)
        .put("analysis_ms", a.analysisMs).put("optimization_ms", a.optimizationMs)
        .put("planning_ms", a.planningMs).put("executions", a.executions)
      val iv = n.putArray("job_intervals")
      a.jobIntervals.foreach { case (s, e) => iv.addArray().add(s).add(e) }
    }

    /** After the measured window: the oracle SQL, each query's first result
      * for the DuckDB compare, compact copies of the catalog tables for space
      * amplification, and the spans of a traced run.
      */
    private def finish(spark: SparkSession): Unit = {
      val sqlNode = mapper.createObjectNode()
      SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (k, v) => sqlNode.put(k, v) }
      val all = mapper.createArrayNode()
      SparkEntry.queries.keys.toSeq.sorted.foreach(all.add)
      val oracleOut = plan.get("oracle_out").asText
      val top = mapper.createObjectNode()
      top.set[JsonNode]("oracle", sqlNode)
      top.set[JsonNode]("all", all)
      Files.write(Paths.get(oracleOut), mapper.writeValueAsBytes(top))
      out.put("oracle_sql", oracleOut)
      val results = out.putObject("results")
      checkedKeys.foreach { case key @ (name, _) =>
        val (_, rows, schema) = firstResult(key)
        val dst = s"$runDir/results/$name"
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1).write.parquet(dst)
        results.put(name, dst)
      }
      if (plan.has("catalog")) {
        val compact = out.putObject("compact")
        val live = out.putObject("live_rows")
        plan.get("catalog").get("tables").elements().asScala.foreach { t =>
          val name = t.get("name").asText
          val dst = s"$runDir/compact/$name"
          val df = spark.table(s"$Catalog.ws.$name")
          df.coalesce(1).write.parquet(dst)
          compact.put(name, dst)
          live.put(name, spark.read.parquet(dst).count())
        }
      }
      if (traced) {
        val spans = Spans.drain()
        val sb = new StringBuilder
        spans.foreach { s =>
          val n = mapper.createObjectNode()
          n.put("layer", s.layer).put("name", s.name).put("start", s.start).put("end", s.end)
            .put("op", s.op)
          sb.append(mapper.writeValueAsString(n)).append('\n')
        }
        val path = plan.get("spans_path").asText
        Files.createDirectories(Paths.get(path).getParent)
        Files.write(Paths.get(path), sb.toString.getBytes(StandardCharsets.UTF_8))
        out.put("spans", spans.size)
      }
    }

    private def peakRssMb(): Double =
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }
}
