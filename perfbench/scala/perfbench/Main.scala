package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, PerfbenchResults, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions._

import graft.{QueryDef, SparkEntry}
import graft.pipelines.CurationPipeline
import graft.queries.VectorQueries
import graft.sources.VersionedTable

/** The JVM half of the benchmark: sets up one workload, runs its ops in a
  * closed loop from one driver thread, and writes every op's timing (and,
  * traced, its per-layer counts) plus the inputs of the correctness check
  * as JSON.  `perfbench/run.py` launches it, checks the results and
  * computes the metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --work DIR --out FILE
  *
  * Warm/cold contract: every run is a fresh JVM, so every process-wide
  * memo starts empty: `Tables.schemaMemo` (keyed by file path),
  * `Scratch.buildOnce` (keyed by application id and dataset), Spark's
  * codegen cache and the `VersionedTable` snapshot caches (keyed by table
  * root).  Each set-up writes its own input directory and warms up with
  * one flagship query (`registry_sweep`) or one read of the new table
  * (`versioned_mix`), so no set-up touches a measured op's memo keys.
  * Every measured op is the first run of that op in the process, memos
  * fill only from the ops before it, and run N measures the same program
  * as run 1. */
object Main {
  private val Setups = 3

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: File, out: File)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", new File(m("work")), new File(m("out")))
  }

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val w: Workload = a.workload match {
      case "registry_sweep" => new RegistrySweep(a)
      case "versioned_mix" => new VersionedMix(a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set-up, several times; the last one's session and inputs are measured
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until Setups) {
      if (spark != null) { spark.stop(); w.discard(i - 1) }
      val t0 = System.nanoTime()
      spark = session(cores, a.work)
      w.setup(spark, i)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val p0 = System.nanoTime()
    w.prime(spark)
    val primeS = (System.nanoTime() - p0) / 1e9
    val tracer = if (a.trace) {
      val t = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val run = new Runner(spark, tracer, tmp, cores)
    val (cpu0, steal0, jit0, gc0) = (Fs.cpuS(), Fs.stealS(), Fs.jitS(), Fs.gcS())
    val wall0 = System.nanoTime()
    w.measure(run)
    val wallS = (System.nanoTime() - wall0) / 1e9
    val (cpuS, stealS) = (Fs.cpuS() - cpu0, Fs.stealS() - steal0)
    val (jitS, gcS) = (Fs.jitS() - jit0, Fs.gcS() - gc0)
    val rss = Fs.peakRssMb()
    val scratchLeft = Fs.scratch(tmp).values.sum / 1048576.0
    tracer.foreach(spark.sparkContext.removeSparkListener)
    val check = w.check(spark)
    // the workload's scratch dirs go once scratch_left_mb has been read
    Fs.scratch(tmp).keys.foreach(n => Fs.rm(new File(tmp, n)))
    spark.stop()
    val result = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "cores" -> cores, "setup_s" -> setupS.toSeq, "prime_s" -> primeS, "wall_s" -> wallS,
      "cpu_s" -> cpuS, "steal_s" -> stealS, "jit_s" -> jitS, "gc_s" -> gcS,
      "peak_rss_mb" -> rss, "scratch_left_mb" -> scratchLeft,
      "ops" -> run.ops.toSeq.map(_.json), "check" -> check)
    Json.write(a.out, result)
  }
}

/** One measured op. */
final case class OpRec(id: Int, name: String, kind: String, startS: Double,
    seconds: Double, ok: Boolean, error: String,
    layers: Map[String, Double], out: Map[String, Any]) {
  def json: Map[String, Any] = Map("id" -> id, "name" -> name, "kind" -> kind,
    "start_s" -> startS, "seconds" -> seconds, "ok" -> ok, "error" -> error,
    "layers" -> layers, "out" -> out)
}

/** Runs ops in a closed loop and, when traced, folds the tracer's counts
  * and the scratch-dir deltas into each op's layer table. */
final class Runner(val spark: SparkSession, tracer: Option[Tracer],
    tmp: File, cores: Int) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val traced: Boolean = tracer.isDefined
  private val t0 = System.nanoTime()

  final class Ctx(id: Int) {
    val ms = mutable.LinkedHashMap.empty[String, Double]
    val window = mutable.Map.empty[String, (Long, Long)]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val out = mutable.LinkedHashMap.empty[String, Any]
    /** Time `body` as layer span `name` of this op. */
    def span[T](name: String)(body: => T): T = {
      tracer.foreach(_.open(s"$id:$name"))
      val w0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      try body
      finally {
        ms(name) = ms.getOrElse(name, 0.0) + (System.nanoTime() - n0) / 1e6
        window(name) = (window.get(name).map(_._1).getOrElse(w0),
          System.currentTimeMillis())
        tracer.foreach(_.close())
      }
    }
    def counts(name: String): SpanCounts =
      tracer.map(_.take(s"$id:$name")).getOrElse(new SpanCounts)
  }

  def elapsed: Double = (System.nanoTime() - t0) / 1e9

  /** Run one op; an exception marks it failed. */
  def op(name: String, kind: String)(body: Ctx => Unit)(traceOnly: Ctx => Unit): OpRec = {
    val id = ops.size
    val ctx = new Ctx(id)
    val before = if (traced) Fs.scratch(tmp) else Map.empty[String, Long]
    val start = elapsed
    val n0 = System.nanoTime()
    val err = try { body(ctx); "" } catch { case e: Throwable => Runner.describe(e) }
    val sec = (System.nanoTime() - n0) / 1e9
    if (traced) {
      traceOnly(ctx)
      val after = Fs.scratch(tmp)
      ctx.layers("scratch.written_mb") = after.map { case (k, v) =>
        math.max(0L, v - before.getOrElse(k, 0L)) }.sum / 1048576.0
      ctx.layers("scratch.dirs_created") = (after.keySet -- before.keySet).size
    }
    val rec = OpRec(id, name, kind, start, sec, err.isEmpty, err,
      ctx.layers.toMap, ctx.out.toMap)
    ops += rec
    rec
  }

  /** The registry op: build the DataFrame, force analysis, optimization and
    * physical planning in that order, then execute the plan (`qe.toRdd`)
    * into a parquet result under `out` for the correctness check. */
  def query(q: QueryDef, dir: String, out: File): OpRec = {
    var qe: org.apache.spark.sql.execution.QueryExecution = null
    op(q.name, "query") { c =>
      val df = c.span("build")(q.fn(spark, dir))
      qe = df.queryExecution
      c.span("analyze")(qe.analyzed)
      c.span("optimize")(qe.optimizedPlan)
      c.span("physical")(qe.executedPlan)
      c.span("exec")(PerfbenchResults.write(qe, new File(out, q.name).getPath))
      spark.catalog.clearCache()
    } { c =>
      val b = c.counts("build")
      Seq("analyze", "optimize", "physical").foreach(c.counts)
      c.layers ++= Seq(
        "queries.build_ms" -> c.ms.getOrElse("build", 0.0),
        "queries.build_jobs" -> b.jobs.toDouble,
        "queries.build_job_ms" -> b.jobMs.toDouble,
        // analysis runs eagerly when the Dataset is built: its own tracker
        // gives the phase time inside the build span
        "plan.analyze_ms" -> Option(qe).flatMap(_.tracker.phases.get("analysis"))
          .map(_.durationMs.toDouble).getOrElse(0.0),
        "plan.optimize_ms" -> c.ms.getOrElse("optimize", 0.0),
        "plan.physical_ms" -> c.ms.getOrElse("physical", 0.0),
        "plan.exchanges" -> Option(qe).map(x => Runner.exchanges(x.executedPlan))
          .getOrElse(0).toDouble)
      c.layers ++= execLayers(c, "exec")
    }
  }

  /** The execution-layer counts of span `span` of op `c`. */
  def execLayers(c: Ctx, span: String): Seq[(String, Double)] = {
    val e = c.counts(span)
    val ms = c.ms.getOrElse(span, 0.0)
    val (w0, w1) = c.window.getOrElse(span, (0L, 0L))
    Seq(
      "exec.ms" -> ms, "exec.jobs" -> e.jobs.toDouble,
      "exec.stages" -> e.stages.toDouble,
      "exec.shuffle_stages" -> e.shuffleStages.toDouble,
      "exec.skipped_stages" -> e.skippedStages.toDouble,
      "exec.result_stage_ms" -> e.resultStageMs.toDouble,
      "exec.between_stage_ms" -> e.uncoveredMs(w0, w1).toDouble,
      "exec.tasks" -> e.tasks.toDouble,
      "exec.task_run_ms" -> e.taskRunMs.toDouble,
      "exec.task_cpu_ms" -> e.taskCpuMs,
      "exec.task_wait_ms" -> e.taskWaitMs.toDouble,
      "exec.parallel_eff" -> (if (ms > 0) e.taskRunMs / (ms * cores) else 0.0),
      "exec.shuffle_write_mb" -> e.shuffleWriteBytes / 1048576.0,
      "exec.shuffle_read_mb" -> e.shuffleReadBytes / 1048576.0,
      "exec.spill_mb" -> e.spillBytes / 1048576.0,
      "exec.peak_exec_mem_mb" -> e.peakExecMem / 1048576.0,
      "exec.input_mb" -> e.inputBytes / 1048576.0,
      "exec.failed_tasks" -> e.failedTasks.toDouble)
  }
}

object Runner {
  /** A failure and its causes, outermost first, with the innermost one's
    * top frames: wrappers such as AQE's "Boxed Exception" hide the cause. */
  def describe(e: Throwable): String = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(6).toSeq
    val line = (t: Throwable) => s"${t.getClass.getName}: " +
      Option(t.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("")
    (chain.map(line).mkString(" <- ") + " at " +
      chain.last.getStackTrace.take(4).mkString(", ")).take(1200)
  }

  /** Exchange nodes in the initial physical plan, subqueries included. */
  def exchanges(plan: SparkPlan): Int = {
    def count(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => count(a.initialPlan)
      case _ =>
        val here = p match {
          case _: ShuffleExchangeLike | _: BroadcastExchangeLike => 1
          case _ => 0
        }
        here + p.children.map(count).sum + p.subqueries.map(count).sum
    }
    count(plan)
  }
}

/** A workload: its set-up, its measured ops and its correctness inputs. */
abstract class Workload(a: Main.Args) {
  val rng = new Random(a.seed)
  def data(i: Int): File = new File(a.work, s"data$i")
  def results: File = new File(a.work, "results")
  /** Generate this set-up's inputs and warm up; `i` numbers the set-ups. */
  def setup(spark: SparkSession, i: Int): Unit
  def discard(i: Int): Unit = Fs.rm(data(i))
  var current = 0
  /** Untimed, once, after the last set-up: bring the JVM to the state the
    * timed loop should see. */
  def prime(spark: SparkSession): Unit = ()
  /** The timed loop. */
  def measure(run: Runner): Unit
  /** Untimed, after the timed loop; returns check inputs for run.py. */
  def check(spark: SparkSession): Map[String, Any]
  /** The run stops starting ops once this budget is spent. */
  def overBudget(run: Runner): Boolean = run.elapsed > 4 * a.seconds
}

/** A fixed sample of `SparkEntry.registry` plus one `CurationPipeline.run`,
  * each once, in a fixed order, over seeded sf0.01 fixtures.  Each
  * query op writes its result, which run.py checks against the query's
  * DuckDB oracle; the pipeline op's `written` is checked against the rows
  * read back from its output. */
final class RegistrySweep(a: Main.Args) extends Workload(a) {
  private val Sf = 0.01
  private val QueriesPerSecond = 0.6
  private val PrimersPerSecond = 0.35
  private val Curation = "curation"
  private val byName = SparkEntry.registry.map(q => q.name -> q).toMap
  private var curated = Map.empty[String, Long]
  private var ran = Seq.empty[String]

  /** `n` queries, every k-th by name from the name at `offset` x k on. */
  private def sample(perSecond: Double, offset: Double): Seq[String] = {
    val all = SparkEntry.registry.map(_.name).sorted
    val n = math.min(all.size / 2, math.max(1, math.round(a.seconds * perSecond).toInt))
    val stride = all.size.toDouble / n
    (0 until n).map(i => all(((i + offset) * stride).toInt))
  }
  val pool: Seq[String] = sample(QueriesPerSecond, 0) :+ Curation
  /** Other queries, between the pool's: they warm the JIT before the timed
    * loop, as the queries before it in a full sweep would. */
  val primers: Seq[String] = sample(PrimersPerSecond, 0.5).filterNot(pool.contains)

  def setup(spark: SparkSession, i: Int): Unit = {
    Fixtures.generate(spark, a.seed, Sf, data(i).getPath)
    // graft.Bench's warm-up: the flagship retrieval-evaluation query
    VectorQueries.rankedRelevant(spark, data(i).getPath).queryExecution.toRdd.count()
    current = i
  }

  override def prime(spark: SparkSession): Unit = primers.foreach { n =>
    try byName(n).fn(spark, data(current).getPath).queryExecution.toRdd.count()
    catch { case _: Throwable => () }
    finally spark.catalog.clearCache()
  }

  def measure(run: Runner): Unit = {
    val dir = data(current).getPath
    results.mkdirs()
    for (n <- pool if !overBudget(run)) {
      if (n == Curation) run.op(n, "pipeline") { c =>
        val r = c.span("exec")(CurationPipeline.run(run.spark, dir,
          new File(a.work, "curated").getPath))
        curated = Map("written" -> r.written, "ingested" -> r.ingested)
      } { c =>
        c.layers ++= Seq("pipelines.curation_ms" -> c.ms.getOrElse("exec", 0.0),
          "pipelines.written" -> curated.getOrElse("written", 0L).toDouble,
          "pipelines.ingested" -> curated.getOrElse("ingested", 0L).toDouble)
        c.layers ++= run.execLayers(c, "exec")
      }
      else run.query(byName(n), dir, results)
      ran :+= n
    }
  }

  def check(spark: SparkSession): Map[String, Any] = {
    val out = new File(a.work, "curated")
    val readBack = if (out.exists()) Map("read_back" -> spark.read.parquet(out.getPath).count())
      else Map.empty
    Map("data" -> data(current).getPath, "results" -> results.getPath,
      "oracle_sql" -> SparkEntry.oracleSql.filter { case (n, _) => ran.contains(n) },
      "curation" -> (curated ++ readBack))
  }
}

/** One VersionedTable built from sf0.1 documents, under a fixed cycle of
  * commit kinds whose rows and predicates the seed picks, with reads
  * interleaved. */
final class VersionedMix(a: Main.Args) extends Workload(a) {
  private val Sf = 0.1
  private val StepsPerSecond = 0.85
  private val BatchRows = 40
  private val MaintainEvery = 5
  private val PrimeSteps = 4
  private val Key = "doc_id"
  private def root(i: Int) = new File(a.work, s"table$i").getPath
  private def batches(i: Int) = new File(data(i), "batches.parquet").getPath
  private val log = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var inputBytes = Map.empty[Int, Long]
  private var createV = 0
  private var initialV = 0

  def steps: Int = math.max(1, math.round(a.seconds * StepsPerSecond).toInt)

  /** Re-crawled and upsert batches: seeded slices of the documents with
    * fresh text; batch b's keys are new (append, even b) or existing
    * (merge, odd b). */
  private def makeBatches(spark: SparkSession, docs: DataFrame, n: Long, i: Int): Unit = {
    val nb = 2 * (math.max(steps, PrimeSteps) + 1)
    val all = spark.range(nb.toLong * BatchRows).select(
      (col("id") / BatchRows).cast("int").as("batch"), col("id").as("k"))
      // append batches get new keys; merge batches hit BatchRows distinct
      // existing keys (a stride coprime to the key count from a seeded start)
      .withColumn("doc_id", when(pmod(col("batch"), lit(2)) === 0,
          lit(1000000L) + col("k"))
        .otherwise(pmod(xxhash64(lit(a.seed + 1), col("batch")) +
          pmod(col("k"), lit(BatchRows.toLong)) * lit(97L), lit(n))))
      .join(docs.select(col("doc_id").as("src"), col("text"), col("lang"),
        col("source")), pmod(col("doc_id"), lit(n)) === col("src"))
      .select(col("batch"), col("doc_id"),
        concat(col("text"), lit(" r"), col("batch")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    Fixtures.writeSingle(all, data(i).getPath, "batches")
    inputBytes = spark.read.parquet(batches(i)).groupBy("batch")
      .agg(sum(length(col("text")) + length(col("lang")) + length(col("source")) + 16))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
  }

  def setup(spark: SparkSession, i: Int): Unit = {
    val dir = data(i).getPath
    new File(dir).mkdirs()
    Fixtures.writeSingle(Fixtures.table(spark, a.seed, Sf, "documents"), dir, "documents")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    makeBatches(spark, docs, Fixtures.rows(Sf)("documents"), i)
    createV = VersionedTable.create(spark, root(i), docs.schema, Key)
    initialV = VersionedTable.append(spark, root(i), docs, Key, 4)
    // warm-up: one read of the new table
    fingerprint(VersionedTable.read(spark, root(i)))
    current = i
  }

  override def discard(i: Int): Unit = { super.discard(i); Fs.rm(new File(root(i))) }

  private def fingerprint(df: DataFrame): Seq[Long] = {
    val r = df.agg(count(lit(1)), coalesce(sum(col(Key)), lit(0L)),
      coalesce(sum(col("n_chars")), lit(0L))).head()
    Seq(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** A throwaway table runs the cycle's first `PrimeSteps` steps untimed,
    * so the timed loop meets a JVM whose JIT has seen every op kind. */
  override def prime(spark: SparkSession): Unit = {
    val t = new File(a.work, "prime-table").getPath
    val docs = spark.read.parquet(new File(data(current), "documents.parquet").getPath)
    VersionedTable.create(spark, t, docs.schema, Key)
    VersionedTable.append(spark, t, docs, Key, 4)
    cycle(new Runner(spark, None, a.work, spark.sparkContext.defaultParallelism),
      t, PrimeSteps, new Random(a.seed + 1), mutable.ArrayBuffer.empty)
    Fs.rm(new File(t))
  }

  def measure(run: Runner): Unit = cycle(run, root(current), steps, rng, log)

  /** `steps` commits of the fixed cycle on table `t`, each followed by a read,
    * with optimize and vacuum every `MaintainEvery` commits. */
  private def cycle(run: Runner, t: String, steps: Int, rng: Random,
      log: mutable.ArrayBuffer[Map[String, Any]]): Unit = {
    val spark = run.spark
    var keepFrom = 1
    val batchDf = spark.read.parquet(batches(current))
    var latest = VersionedTable.latestVersion(spark, t).get
    val langs = Seq("en", "de", "fr", "es", "zh")
    def files(): Map[String, Long] =
      if (run.traced) Fs.files(new File(t, "data")) else Map.empty
    def live(v: Int) = VersionedTable.snapshot(spark, t, v).files.size

    /** One VersionedTable call as an op: its time is `sources.<name>_ms`, its
      * Spark jobs the exec.* counts; the call's value goes to the op log. */
    def vop(name: String, kind: String, entry: Map[String, Any])(call: => Any)(
        extra: => Seq[(String, Double)]): OpRec = {
      val before = files()
      val rec = run.op(name, kind) { c => c.out("value") = c.span("call")(call) } { c =>
        val added = files() -- before.keySet
        c.layers ++= Seq(s"sources.${name}_ms" -> c.ms.getOrElse("call", 0.0),
          "sources.files_written" -> added.size.toDouble,
          "sources.bytes_written" -> added.values.sum.toDouble) ++ extra
        c.layers ++= run.execLayers(c, "call")
      }
      log += entry ++ Map("op" -> name, "op_id" -> rec.id, "ok" -> rec.ok) ++
        rec.out.get("value").map("value" -> _)
      rec
    }
    def commit(name: String, entry: Map[String, Any])(call: => Int): Unit = {
      val in = entry.get("batch").map(b => inputBytes(b.asInstanceOf[Int])).getOrElse(0L)
      val rec = vop(name, "commit", entry)(call)(Seq("sources.input_bytes" -> in.toDouble))
      rec.out.get("value").foreach(v => latest = math.max(latest, v.asInstanceOf[Int]))
    }
    def read(name: String, v: Int, entry: Map[String, Any])(df: => DataFrame): Unit = {
      var frame: DataFrame = null
      vop(name, "read", entry + ("version" -> v)) { frame = df; fingerprint(frame) }(Seq(
        "sources.input_files" -> Option(frame).map(_.inputFiles.length).getOrElse(0).toDouble,
        "sources.live_files" -> live(v).toDouble))
      ()
    }

    // a fixed cycle of commit kinds; the seed picks each commit's rows.
    // An append comes just before each optimize, so optimize always has at
    // least two files to compact: with one file left it is a no-op, and
    // whether the commits before it leave one file depends on the seed.
    val block = Seq("append", "merge", "update", "delete", "append", "merge",
      "delete_mor", "update", "merge", "append")
    val plan = Iterator.continually(block).flatten.take(steps).toSeq
    val nextBatch = mutable.Map("append" -> 0, "merge" -> 1)
    for ((kind, step) <- plan.zipWithIndex if !overBudget(run)) {
      kind match {
        case "append" | "merge" =>
          val b = nextBatch(kind)
          nextBatch(kind) = b + 2
          val rows = batchDf.filter(col("batch") === b).drop("batch")
          commit(kind, Map("batch" -> b))(
            if (kind == "append") VersionedTable.append(spark, t, rows, Key, 1)
            else VersionedTable.merge(spark, t, rows, Key, 1))
        case "update" =>
          val m = 53 + rng.nextInt(40)
          val rem = rng.nextInt(m)
          val tag = s" u$step"
          commit("update", Map("mod" -> m, "rem" -> rem, "tag" -> tag))(
            VersionedTable.update(spark, t, pmod(col(Key), lit(m.toLong)) === rem,
              Map("text" -> concat(col("text"), lit(tag)),
                "n_chars" -> (col("n_chars") + tag.length)), Key, 1))
        case _ =>
          val m = 150 + rng.nextInt(100)
          val rem = rng.nextInt(m)
          val cond = pmod(col(Key), lit(m.toLong)) === rem
          commit(kind, Map("mod" -> m, "rem" -> rem))(
            if (kind == "delete") VersionedTable.delete(spark, t, cond, Key, 1)
            else VersionedTable.deleteMoR(spark, t, cond, Key))
      }
      if ((step + 1) % MaintainEvery == 0) {
        commit("optimize", Map.empty)(VersionedTable.optimize(spark, t, Long.MaxValue, Key, 2))
        val keep = math.max(keepFrom, latest - MaintainEvery)
        if (vop("vacuum", "commit", Map("keep_from" -> keep))(
            VersionedTable.vacuum(spark, t, keep, 0L))(Nil).ok) keepFrom = keep
      }
      // one read after every commit, rotating through the read kinds
      step % 4 match {
        case 0 =>
          val lang = langs(rng.nextInt(langs.size))
          read("read_latest", latest, Map("lang" -> lang))(
            VersionedTable.read(spark, t).filter(col("lang") === lang))
        case 1 =>
          // two versions back, for every seed: a seeded pick among the
          // retained versions made the read's cost swing 2-5x between seeds
          val v = math.max(keepFrom, latest - 2)
          read("read_asof", v, Map.empty)(VersionedTable.read(spark, t, Some(v)))
        case 2 =>
          val from = math.max(keepFrom, latest - 5)
          vop("changes", "read", Map("from" -> from))(
            VersionedTable.changes(spark, t, from, latest, Some(Key)).count())(Nil)
        case _ =>
          val v = latest
          vop("versions", "read", Map.empty) {
            val vs = VersionedTable.versions(spark, t)
            require(vs.last == v, s"versions() ends at ${vs.last}, last commit is $v")
            vs.size
          }(Nil)
      }
    }
  }

  def check(spark: SparkSession): Map[String, Any] = {
    results.mkdirs()
    val finalPath = new File(results, "final").getPath
    VersionedTable.read(spark, root(current)).coalesce(1).write.mode("overwrite")
      .parquet(finalPath)
    val live = new File(finalPath).listFiles().filter(_.getName.endsWith(".parquet"))
      .map(_.length()).sum
    Map("documents" -> new File(data(current), "documents.parquet").getPath,
      "batches" -> batches(current), "final" -> finalPath, "log" -> log.toSeq,
      "create_version" -> createV, "initial_version" -> initialV,
      "table_bytes" -> Fs.bytes(new File(root(current))), "final_bytes" -> live)
  }
}

object Json {
  private val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }
  def write(f: File, v: Any): Unit = mapper.writeValue(f, v)
}
