package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Graft, SparkEntry, Tables}
import graft.ops.{Etl, IterStats}

/** One measured run of a benchmark workload, driven by a plan file that
  * `run.py` writes. The harness calls the engine only through its public
  * entry points (`Graft.session`, `SparkEntry.queries`, `Dataset
  * .queryExecution`, the `ops.Etl` write functions, the SQL kernels) and
  * times every call from outside.
  *
  * Usage: Harness <plan.json> <result.json>
  *
  * A run is session + table registration + one warm-up pass that writes
  * every gate's output for the oracle check (together: set-up), then whole
  * passes in seeded order until `seconds` have elapsed. With `trace` on,
  * even passes run with a [[LayerListener]] and spans, odd passes without,
  * so the run itself measures the cost of tracing; a [[KernelProbe]] may
  * follow the passes.
  *
  * The result file holds raw samples only; `run.py` derives the metrics.
  */
object Harness {
  private val mapper = new ObjectMapper()

  final case class Op(name: String, kind: String, family: String,
                      spec: JsonNode)

  final case class Span(op: String, name: String, id: Int, parent: Int,
                        startNs: Long, endNs: Long)

  private def obj(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  private def secs(ns: Long): Double = ns / 1e9

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** Peak heap use since the last call: the per-pool peaks summed (an
    * upper bound, as pools peak at different moments), then reset. */
  private def peakHeapMb(): Double = {
    val mb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    heapPools.foreach(_.resetPeakUsage())
    mb
  }

  /** Heap allocated by all threads since the JVM started (0 where the
    * JVM does not count it). */
  private def allocatedMb(): Double = ManagementFactory.getThreadMXBean match {
    case t: com.sun.management.ThreadMXBean =>
      math.max(0L, t.getTotalThreadAllocatedBytes) / 1048576.0
    case _ => 0.0
  }

  /** Heap the JVM retains: used heap right after a full collection.
    * Taken between passes, outside every timing. */
  private def liveHeapMb(): Double = {
    // the second collection frees what the ContextCleaner released after
    // the first one made Spark's shuffle and broadcast handles unreachable
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val result = run(plan)
    mapper.writeValue(new File(args(1)), result)
  }

  private def session(plan: JsonNode): SparkSession = {
    val cores = plan.get("cores").asInt
    val scratch = plan.get("scratch").asText
    val s = Graft.session(Some(s"local[$cores]"), "perfbench",
      shufflePartitions = cores,
      extraConf = Map(
        "spark.ui.enabled" -> "false",
        "spark.sql.warehouse.dir" -> s"$scratch/warehouse",
        "spark.local.dir" -> s"$scratch/local"))
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def run(plan: JsonNode): java.util.Map[String, Any] = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val dataDir = plan.get("data_dir").asText
    val outDir = plan.get("out_dir").asText
    val seed = plan.get("seed").asLong
    val seconds = plan.get("seconds").asDouble
    val trace = plan.get("trace").asBoolean
    val ops = plan.get("ops").elements().asScala.map { o =>
      Op(o.get("name").asText, o.get("kind").asText, o.get("family").asText,
        o)
    }.toVector

    val spans = mutable.ArrayBuffer.empty[Span]
    var tracing = false
    var nextSpan = 0
    def span[T](op: String, name: String, parent: Int)(body: Int => T): T = {
      val id = { nextSpan += 1; nextSpan }
      val t0 = System.nanoTime()
      try body(id)
      finally if (tracing) spans += Span(op, name, id, parent, t0,
        System.nanoTime())
    }

    var spark: SparkSession = null
    val sessionS = {
      val t0 = System.nanoTime()
      tracing = trace
      span("setup", "session", 0)(_ => spark = session(plan))
      tracing = false
      secs(System.nanoTime() - t0)
    }
    val sc = spark.sparkContext
    val registerS = {
      val t0 = System.nanoTime()
      Tables.registerAll(spark, dataDir)
      secs(System.nanoTime() - t0)
    }
    val listener = new LayerListener

    def phase(p: String): Unit = sc.setLocalProperty("perfbench.phase", p)

    def cleanup(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }

    /** Files under `dirs` written at or after `sinceMs`. */
    def filesSince(dirs: Seq[String], sinceMs: Long): Int =
      dirs.map(new File(_)).filter(_.exists).map { d =>
        val w = java.nio.file.Files.walk(d.toPath)
        try w.iterator().asScala.count { p =>
          val f = p.toFile
          f.isFile && f.getName.startsWith("part-") &&
            f.lastModified() >= sinceMs
        } finally w.close()
      }.sum

    /** One ETL write step; returns the directories it writes. */
    def runWrite(op: Op): Seq[String] = {
      val s = op.spec
      op.kind match {
        case "zone" =>
          val args = (spark, s.get("raw").asText, s.get("processed").asText,
            s.get("error").asText, s.get("schema").asText)
          val country = s.get("country").asText
          val (_, breaker) = s.get("api").asText match {
            case "covid" => Etl.runCovidTransform(args._1, args._2, args._3,
              args._4, args._5, Etl.covidNullCheckCols, country)
            case _ => Etl.runWeatherTransform(args._1, args._2, args._3,
              args._4, args._5, Etl.weatherCheckCols, country)
          }
          breaker.collect()
          Seq(s.get("processed").asText, s.get("error").asText)
        case "upsert" =>
          val gold = s.get("gold").asText
          Etl.upsertPartitioned(spark, gold,
            spark.read.parquet(s.get("backfill").asText),
            Seq("date", "event_id"), "date")
          Seq(gold)
        case "compact" =>
          val gold = s.get("gold").asText
          val parts = s.get("partitions").elements().asScala
            .map(p => s"$gold/date=${p.asText}").toVector
          parts.foreach(p => Etl.compactParquet(spark, p, 64L << 20))
          parts
      }
    }

    /** One operation. Failed operations carry `err` and no timing. */
    def runOp(op: Op, pass: Int, parent: Int,
              warm: Boolean): java.util.Map[String, Any] = {
      val key = s"$pass:${op.name}"
      sc.setLocalProperty("perfbench.op", key)
      IterStats.drain()
      val rec = obj("pass" -> pass, "name" -> op.name, "kind" -> op.kind,
        "family" -> op.family, "traced" -> tracing)
      val t0 = System.nanoTime()
      val t0Ms = System.currentTimeMillis()
      try span(key, "op", parent) { opId =>
        if (op.kind == "gate") {
          phase("construct")
          val df = span(key, "construct", opId)(_ =>
            SparkEntry.queries(op.name)(spark, dataDir))
          val t1 = System.nanoTime()
          phase("plan")
          val qe = df.queryExecution
          val plan = span(key, "plan", opId)(_ => qe.executedPlan)
          val t2 = System.nanoTime()
          phase("execute")
          val rows = span(key, "execute", opId) { _ =>
            if (warm) {
              df.coalesce(1).write.mode("overwrite")
                .parquet(s"$outDir/gates/${op.name}")
              -1L
            } else qe.toRdd.count()
          }
          val t3 = System.nanoTime()
          rec.put("s", secs(t3 - t0))
          rec.put("construct_s", secs(t1 - t0))
          rec.put("plan_s", secs(t2 - t1))
          rec.put("exec_s", secs(t3 - t2))
          rec.put("rows", rows)
          if (tracing) {
            val ph = qe.tracker.phases
            rec.put("catalyst", obj(ph.toSeq.map { case (k, v) =>
              k -> v.durationMs / 1e3 }: _*))
            rec.put("plan_nodes", plan.collect { case p => p }.size)
          }
        } else {
          phase("write")
          val dirs = span(key, "write", opId)(_ => runWrite(op))
          rec.put("s", secs(System.nanoTime() - t0))
          if (tracing) rec.put("write_files", filesSince(dirs, t0Ms))
        }
      } catch {
        case e: Throwable =>
          rec.put("err", s"${e.getClass.getName}: ${
            String.valueOf(e.getMessage).linesIterator.nextOption()
              .getOrElse("")}")
      } finally {
        phase(null)
        sc.setLocalProperty("perfbench.op", null)
        cleanup()
      }
      val rounds = IterStats.drain().values.sum
      if (rounds > 0) rec.put("rounds", rounds)
      rec
    }

    // the ingest steps depend on each other and keep their order at the
    // head of every pass; the gates run in a seeded order per pass
    val (ingest, gates) = ops.partition(_.kind != "gate")
    def order(pass: Int): Vector[Op] =
      ingest ++ new scala.util.Random(seed * 1000003L + pass).shuffle(gates)

    // warm-up pass: compiles codegen, builds per-JVM publish-once
    // artifacts, and writes every gate's output for the oracle check
    val warm = order(0).map(op => runOp(op, 0, 0, warm = true))
    val setupEndMs = System.currentTimeMillis()

    val samples = mutable.ArrayBuffer.empty[java.util.Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[java.util.Map[String, Any]]
    val loop0 = System.nanoTime()
    var pass = 1
    // traced runs alternate untraced, traced, untraced, ... passes (at
    // least three) so drift across passes cancels in the overhead estimate
    while (pass == 1 || (trace && pass <= 3) ||
      secs(System.nanoTime() - loop0) < seconds) {
      tracing = trace && pass % 2 == 0
      if (tracing) sc.addSparkListener(listener)
      peakHeapMb()
      val alloc0 = allocatedMb()
      val p0 = System.nanoTime()
      span(s"pass$pass", "pass", 0) { pid =>
        order(pass).foreach(op => samples += runOp(op, pass, pid,
          warm = false))
      }
      val passS = secs(System.nanoTime() - p0)
      val allocMb = allocatedMb() - alloc0
      val peakMb = peakHeapMb()
      if (tracing) {
        org.apache.spark.PerfbenchBus.drain(sc)
        sc.removeSparkListener(listener)
      }
      tracing = false
      passes += obj("pass" -> pass, "s" -> passS, "traced" -> (pass % 2 == 0
        && trace), "alloc_mb" -> allocMb, "peak_heap_mb" -> peakMb,
        "live_heap_mb" -> liveHeapMb())
      pass += 1
    }

    val kernels =
      if (plan.path("kernel_probe").asBoolean(false))
        KernelProbe(spark, dataDir, plan.get("cores").asInt)
      else obj()

    val checks = mutable.ArrayBuffer.empty[java.util.Map[String, Any]]
    Option(plan.get("verify_upsert")).foreach { v =>
      checks += verifyUpsert(spark, v.get("gold").asText,
        v.get("pristine").asText, v.get("backfill").asText)
    }
    spark.stop()

    val w = new java.io.PrintWriter(new File(s"$outDir/spans.jsonl"))
    try spans.foreach { s =>
      w.println(mapper.writeValueAsString(obj("op" -> s.op, "name" -> s.name,
        "id" -> s.id, "parent" -> s.parent, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs)))
    } finally w.close()

    obj("jvm_start_ms" -> jvmStartMs, "setup_end_ms" -> setupEndMs,
      "session_s" -> sessionS, "register_s" -> registerS,
      "warm" -> warm.asJava, "samples" -> samples.asJava,
      "passes" -> passes.asJava,
      "layers" -> listener.snapshot(), "kernels" -> kernels,
      "checks" -> checks.asJava, "spans" -> spans.size,
      "oracle_sql" -> ops.filter(_.kind == "gate").flatMap(o =>
        SparkEntry.oracleSql.get(o.name).map(o.name -> _)).toMap.asJava)
  }

  /** The partitioned upsert's result equals the flat `Etl.upsert` of the
    * pristine gold copy and the same backfill. */
  private def verifyUpsert(spark: SparkSession, gold: String,
                           pristine: String,
                           backfill: String): java.util.Map[String, Any] = {
    val rec = obj("name" -> "etl.upsert_partitioned")
    try {
      val got = spark.read.parquet(gold)
      val want = Etl.upsert(spark.read.parquet(pristine),
        spark.read.parquet(backfill), Seq("date", "event_id"))
      val cols = want.columns.toSeq.map(col)
      val g = got.select(cols: _*)
      val extra = g.exceptAll(want.select(cols: _*)).count()
      val missing = want.select(cols: _*).exceptAll(g).count()
      if (extra + missing > 0)
        rec.put("err", s"$extra unexpected rows, $missing missing rows")
    } catch {
      case e: Throwable => rec.put("err", e.toString)
    }
    rec
  }
}

/** Per-(operation, phase) Spark scheduler counts. Jobs carry the op key
  * and phase as local properties; stages and tasks inherit them through
  * the job that submitted them. Runs on the listener-bus thread; read only
  * after the bus is drained.
  */
final class LayerListener extends SparkListener {
  final class Agg {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, waitMs = 0L
    var shuffleRead, shuffleWrite, spill, peakMem = 0L
    var inBytes, inRecords, scanTasks = 0L
    var outBytes = 0L
  }
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  private val aggs = mutable.LinkedHashMap.empty[String, Agg]
  private def agg(k: String): Agg = synchronized(aggs.getOrElseUpdate(k,
    new Agg))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val key = p.flatMap(x => Option(x.getProperty("perfbench.op")))
      .getOrElse("-") + "|" +
      p.flatMap(x => Option(x.getProperty("perfbench.phase"))).getOrElse("-")
    agg(key).jobs += 1
    e.stageInfos.foreach(s => stageKey.put(s.stageId, key))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = e.stageInfo.stageId
    stageSubmit.put(id, e.stageInfo.submissionTime
      .getOrElse(System.currentTimeMillis()))
    Option(stageKey.get(id)).foreach(k => agg(k).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val k = Option(stageKey.get(e.stageId)).getOrElse("-|-")
    val a = agg(k)
    a.tasks += 1
    Option(stageSubmit.get(e.stageId)).foreach(t =>
      a.waitMs += math.max(0L, e.taskInfo.launchTime - t))
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      a.inBytes += m.inputMetrics.bytesRead
      a.inRecords += m.inputMetrics.recordsRead
      if (m.inputMetrics.bytesRead > 0) a.scanTasks += 1
      a.outBytes += m.outputMetrics.bytesWritten
    }
  }

  def snapshot(): java.util.Map[String, Any] = synchronized {
    val m = new java.util.LinkedHashMap[String, Any]()
    aggs.foreach { case (k, a) =>
      val r = new java.util.LinkedHashMap[String, Any]()
      Seq("jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
        "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs,
        "wait_ms" -> a.waitMs, "shuffle_read" -> a.shuffleRead,
        "shuffle_write" -> a.shuffleWrite, "spill" -> a.spill,
        "peak_mem" -> a.peakMem, "in_bytes" -> a.inBytes,
        "in_records" -> a.inRecords, "scan_tasks" -> a.scanTasks,
        "out_bytes" -> a.outBytes)
        .foreach { case (n, v) => r.put(n, v) }
      m.put(k, r)
    }
    m
  }
}

/** Each registered kernel alone, as a one-column projection over cached
  * input with a `toRdd` sink, against the plain-Catalyst spelling it
  * replaced. Inputs are the workload's documents and embeddings, repeated
  * to about [[Rows]] rows over one partition per core; the same scan with
  * a trivial projection is timed too and subtracted, so the per-row figure
  * is the expression's own cost. Median of three timed runs after one
  * untimed run.
  */
object KernelProbe {
  val Rows = 8000L

  /** `df` repeated to about [[Rows]] rows, cached, with its row count. */
  private def widen(df: DataFrame, cores: Int): (DataFrame, Long) = {
    val n = math.max(1L, df.count())
    val k = math.max(1L, (Rows + n - 1) / n)
    val out = df.crossJoin(df.sparkSession.range(k).toDF("rep"))
      .drop("rep").repartition(cores).cache()
    (out, out.count())
  }

  def apply(spark: SparkSession, dir: String,
            cores: Int): java.util.Map[String, Any] = {
    val (docs, nDocs) = widen(Tables.documents(spark, dir)
      .select("doc_id", "text"), cores)
    val emb0 = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("a"),
        reverse(col("embedding")).as("b"))
    val cands = emb0.orderBy("vec_id").limit(16)
      .select(struct(col("vec_id").as("id"), col("a").as("vec")).as("c"))
      .agg(collect_list("c").as("cands"))
    val (emb, nEmb) = widen(emb0.crossJoin(broadcast(cands)), cores)
    val keys = Tables.documents(spark, dir).filter(col("doc_id") % 3 === 0)
    val keyArr = keys.select("doc_id").collect().map(_.getLong(0))
    // might_contain takes its filter as a constant: build it once
    val bloom = keys.selectExpr(s"bloom_agg(xxhash64(doc_id), " +
      s"CAST(${keyArr.length + 1} AS BIGINT))").head().getAs[Array[Byte]](0)

    def sum(arr: String): String = s"aggregate($arr, 0D, (s, v) -> s + v)"
    val d = "CAST(x AS DOUBLE)"
    val e = "CAST(y AS DOUBLE)"
    val dot = sum(s"zip_with(a, b, (x, y) -> $d * $e)")
    val norm = (c: String) => s"sqrt(${sum(s"transform($c, x -> $d * $d)")})"
    val h60 = (t: String) => s"CAST(conv(substr(md5($t), 1, 15), 16, 10) AS BIGINT)"
    def langHof(t: Column): Column = {
      val tl = lower(t)
      val grams = transform(sequence(lit(1), greatest(length(tl) - 2, lit(1))),
        i => tl.substr(i, lit(3)))
      def hit(g: Column, p: Seq[String]): Column =
        when(g.isin(p: _*), 1).otherwise(0)
      aggregate(grams, struct(lit(0).as("en"), lit(0).as("de"),
        lit(0).as("es"), lit(0).as("fr")), (acc, g) => struct(
        (acc("en") + hit(g, graft.ops.Text.triEn)).as("en"),
        (acc("de") + hit(g, graft.ops.Text.triDe)).as("de"),
        (acc("es") + hit(g, graft.ops.Text.triEs)).as("es"),
        (acc("fr") + hit(g, graft.ops.Text.triFr)).as("fr")))
    }
    // (kernel, its input, native spelling, Catalyst spelling)
    val probes: Seq[(String, DataFrame, Column, Column)] = Seq(
      ("cosine_sim", emb, expr("cosine_sim(a, b)"),
        expr(s"$dot / (${norm("a")} * ${norm("b")})")),
      ("dot_prod", emb, expr("dot_prod(a, b)"), expr(dot)),
      ("l2_sq", emb, expr("l2_sq(a, b)"),
        expr(sum(s"zip_with(a, b, (x, y) -> ($d - $e) * ($d - $e))"))),
      ("nearest_cos", emb, expr("nearest_cos(a, cands)"),
        expr("-array_max(transform(cands, c -> named_struct(" +
          "'s', cosine_sim(a, c.vec), 'nid', -c.id))).nid")),
      ("nearest_l2", emb, expr("nearest_l2(a, cands)"),
        expr("array_min(transform(cands, c -> named_struct(" +
          "'d', l2_sq(a, c.vec), 'id', c.id))).id")),
      ("md5_h60", docs, expr("md5_h60(text)"), expr(h60("text"))),
      ("rolling_fp", docs, expr("rolling_fp(text)"),
        expr(s"aggregate(transform(split(text, ' ', -1), " +
          s"t -> ${h60("t")} % 1048576), 0L, " +
          "(acc, h) -> (acc * 131 + h) % 1099511627776)")),
      ("lang_scores", docs, expr("lang_scores(text)"), langHof(col("text"))),
      ("subword_tokens", docs, expr("subword_tokens(text)"),
        regexp_extract_all(col("text"),
          lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))),
      // the exact membership test the bloom screen stands in for
      ("bloom_might_contain", docs,
        call_function("bloom_might_contain", lit(bloom),
          xxhash64(col("doc_id"))),
        array_contains(lit(keyArr), col("doc_id"))))

    def time(df: DataFrame): Double = {
      df.queryExecution.toRdd.count()
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.queryExecution.toRdd.count()
        (System.nanoTime() - t0).toDouble
      }.sorted
      ts(1)
    }
    val rows = Map(docs -> nDocs, emb -> nEmb)
    val base = Map(docs -> time(docs.select("doc_id")),
      emb -> time(emb.select("vec_id")))
    val m = new java.util.LinkedHashMap[String, Any]()
    probes.foreach { case (name, in, native, catalyst) =>
      val r = new java.util.LinkedHashMap[String, Any]()
      r.put("rows", rows(in))
      r.put("ns_per_row", (time(in.select(native)) - base(in)) / rows(in))
      r.put("catalyst_ns_per_row",
        (time(in.select(catalyst)) - base(in)) / rows(in))
      m.put(name, r)
    }
    docs.unpersist(); emb.unpersist()
    m
  }
}
