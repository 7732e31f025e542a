package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.Flatten
import graft.sources.Tables
import graft.store.{DeltaLogStore, SnapshotStore, Staging}

/** One benchmark run in one JVM. Writes its raw samples, set-up times,
  * store sizes and (traced runs) per-layer figures as one JSON object to
  * `--out`; `run.py` turns them into the reported metrics.
  *
  * {{{
  * Main --workload doc_lookup|doc_ingest|registry_mix --seed N --seconds S
  *      --trace 0|1 --data DIR --work DIR --out FILE
  *      [--setups K] [--inject-failure 0|1] [--check-dir DIR]
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val work = new File(o("work")).getAbsolutePath
    redirectStoreRoot(s"$work/graftstore")
    val spark = session(work)
    val trace = o.getOrElse("trace", "0") == "1"
    val tracer = new Tracer(spark)
    if (trace) tracer.install()
    val bench = new Bench(spark, tracer, trace, o("seed").toLong, o("seconds").toDouble,
      o("data"), o.getOrElse("inject-failure", "0") == "1")
    val setups = o.getOrElse("setups", "3").toInt
    o("workload") match {
      case "doc_lookup" => bench.docLookup(setups)
      case "doc_ingest" => bench.docIngest(setups)
      case "registry_mix" => bench.registryMix(o("check-dir"))
      case w => sys.error(s"unknown workload $w")
    }
    val json = bench.report(o.get("trace-file"))
    Files.writeString(Paths.get(o("out")), json)
    spark.stop()
  }

  /** The engine keeps every store, staged frame and tuning ledger under
    * `SnapshotStore.root`, a constant. Point it inside this run's work
    * directory before anything reads it, so a run touches only its own
    * checkout. The path keeps a `/graftstore/` segment, which the
    * engine's bucket-predicate rule keys on. The constant compiles to a
    * static final field, which reflection cannot set, so this writes it
    * through `Unsafe` before any code has read (or JIT-folded) it. */
  private def redirectStoreRoot(root: String): Unit = {
    val f = SnapshotStore.getClass.getDeclaredField("root")
    val u = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    u.setAccessible(true)
    val unsafe = u.get(null).asInstanceOf[sun.misc.Unsafe]
    unsafe.putObject(unsafe.staticFieldBase(f), unsafe.staticFieldOffset(f), root)
    require(SnapshotStore.root == root, s"store root not redirected: ${SnapshotStore.root}")
  }

  /** The session `graft.Verify` builds, plus scratch and warehouse
    * directories inside the work directory. */
  private def session(work: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** One timed call; `step` is the index of the closed-loop step it
  * belongs to (a store_document and its read-back form one step). */
final case class Op(kind: String, name: String, step: Int, ms: Double, ok: Boolean,
    error: String)

final case class Step(label: String, phase: String, ms: Double, ok: Boolean, traced: Boolean)

final class Bench(spark: SparkSession, tracer: Tracer, trace: Boolean, seed: Long,
    seconds: Double, data: String, injectFailure: Boolean) {
  import Bench._

  val setupS = ArrayBuffer.empty[Double]
  val ops = ArrayBuffer.empty[Op]
  val steps = ArrayBuffer.empty[Step]
  var storedBytes = 0L
  var sourceBytes = 0L
  private var phase = "run"
  private var stepOk = true

  /** Delete the store root: every store, staged frame and ledger is then
    * rebuilt by this code from this run's inputs. */
  private def reset(): Unit = tracer.span("bench.reset") {
    SnapshotStore.deleteRecursively(new File(SnapshotStore.root))
  }

  private def setup(body: => Unit): Unit = {
    tracer.active = trace
    val t0 = System.nanoTime()
    tracer.op("bench.setup") { reset(); body }
    setupS += (System.nanoTime() - t0) / 1e9
  }

  /** One closed-loop step: the calls one client waits for in turn. */
  private def step(label: String, traced: Boolean)(body: => Unit): Unit = {
    tracer.active = traced
    stepOk = true
    val t0 = System.nanoTime()
    body
    steps += Step(label, phase, (System.nanoTime() - t0) / 1e6, stepOk, traced)
  }

  /** A timed call that fails when it throws or returns false. */
  private def op(kind: String, name: String)(body: => Boolean): Unit = {
    val t0 = System.nanoTime()
    val (ok, err) =
      try tracer.op(kind)(body) match {
        case true => (true, "")
        case false => (false, "output differs from the source document")
      } catch { case NonFatal(e) => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    stepOk &&= ok
    ops += Op(kind, name, steps.size, (System.nanoTime() - t0) / 1e6, ok, err.take(300))
  }

  /** Run steps for `seconds` (at least `min`): stop before a step that
    * would, at the mean step time so far, end past the deadline. */
  private def loop(min: Int)(body: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    while (i < min || elapsed * (i + 1) / i <= seconds) { body(i); i += 1 }
  }

  /** Warm-up steps (JIT, codegen, lazy set-up; checked but no latency
    * samples), then `seconds` of timed steps. In a traced run every other
    * step is traced, so the untraced ones measure the tracing overhead in
    * the same JVM. `beforeRun` runs, untimed, between the two. */
  private def timedSteps(label: String, warmups: Int, min: Int = MinSteps,
      beforeRun: () => Unit = () => ())(body: => Unit): Unit = {
    phase = "warmup"
    for (_ <- 1 to warmups) step(label, trace)(body)
    beforeRun()
    phase = "run"
    loop(min)(i => step(label, trace && i % 2 == 1)(body))
  }

  private def injectedFailure(kind: String, name: String)(body: => Boolean): Unit =
    if (injectFailure) {
      phase = "fail"
      step("fail", trace)(op(kind, name)(body))
    }

  // ---- paper protocol: documents -------------------------------------

  /** Events as the reference's vehicle snapshots: one hour bucket is one
    * FeatureCollection document (the canonical GeoJSON schema the
    * engine's geojson queries use). */
  private def sourceFlat(): DataFrame = Tables.events(spark, data).select(
    col("ts"),
    SnapshotStore.bucketExpr(col("ts")).as("bucket"),
    col("user_id").cast("string").as("uuid"),
    col("event_id").as("id"),
    col("event_type").as("color"),
    (col("event_id") % 2 === 1).as("direction"),
    col("value").cast("float").as("distance"),
    (col("event_id") % 65536).cast("int").as("distanceFromPoint"),
    concat(lit("L"), (col("user_id") % 10).cast("string")).as("lineId"),
    col("value").cast("float").as("coordinates_0"),
    (col("value") * 0.5).cast("float").as("coordinates_1"),
    col("user_id").cast("string").as("uuidx"))

  /** The source documents, built on the client from the raw rows and
    * rendered as canonical GeoJSON text: the oracle every reconstructed
    * document is compared with. Independent of the engine's nest. */
  private def sourceDocs(flat: DataFrame): (IndexedSeq[String], Map[String, String]) = {
    val rows = flat.drop("ts").collect()
    val schema = flat.drop("ts").schema
    val props = Props.map(schema.fieldIndex)
    val (lon, lat, id) =
      (schema.fieldIndex("coordinates_0"), schema.fieldIndex("coordinates_1"), schema.fieldIndex("id"))
    val byBucket = rows.groupBy(_.getString(0)).map { case (b, rs) =>
      val feats = rs.sortBy(_.getLong(id)).toSeq.map { r =>
        Map(
          "type" -> "Feature",
          "id" -> r.getLong(id).toString,
          "properties" -> Props.zip(props).map { case (p, i) => p -> r.get(i) }.toMap,
          "geometry" -> Map("type" -> "Point", "coordinates" -> Seq(r.get(lon), r.get(lat))))
      }
      b -> canonical(Map("type" -> "FeatureCollection", "features" -> feats))
    }
    (byBucket.keys.toIndexedSeq.sorted, byBucket)
  }

  private def nest(flat: DataFrame): DataFrame = tracer.span("operators.nest") {
    Flatten.nest(flat, "bucket", "id", Props, "coordinates_0", "coordinates_1")
  }

  /** Force planning, run, and compare the single document with its source. */
  private def fetchAndCheck(nested: DataFrame, expected: String): Boolean = {
    tracer.span("plans.plan")(nested.queryExecution.executedPlan)
    val rows = tracer.span("spark.collect")(nested.collect())
    tracer.span("bench.check") {
      rows.length == 1 && canonical(Map("type" -> rows(0).getAs[String]("type"),
        "features" -> rows(0).getAs[Seq[Row]]("features"))) == expected
    }
  }

  /** Read side: seeded uniform `get_document` calls against the
    * hour-partitioned parquet store. */
  def docLookup(setups: Int): Unit = {
    val flat = sourceFlat()
    val (hours, docs) = sourceDocs(flat)
    val path = s"${SnapshotStore.root}/doc_lookup"
    for (_ <- 1 to setups) setup {
      tracer.span("store.write")(SnapshotStore.write(flat, path, "ts"))
    }
    storedBytes = SnapshotStore.totalSizeBytes(path)
    sourceBytes = hours.map(h => docs(h).getBytes(UTF_8).length.toLong).sum
    val rng = new Random(seed)
    def getDocument(bucket: String, expected: String): Boolean = {
      val df = tracer.span("store.lookup")(SnapshotStore.lookupBucket(spark, path, bucket))
      fetchAndCheck(nest(df), expected)
    }
    injectedFailure("get_document", "wrong-expected-document") {
      getDocument(hours.head, docs(hours.head).replace("Feature", "Feat"))
    }
    // lookups keep getting faster over the first four (JIT of the
    // partition-listing job's task path), then hold steady
    timedSteps("get_document", warmups = 4) {
      val h = hours(rng.nextInt(hours.size))
      op("get_document", h)(getDocument(h, docs(h)))
    }
  }

  /** Write side: store_document of hour documents in order into the
    * Delta-log store, each followed by a read-back of a seeded,
    * already-committed document at the latest version. */
  def docIngest(setups: Int): Unit = {
    val flat = sourceFlat()
    val (hours, docs) = sourceDocs(flat)
    val first = new Random(seed).nextInt(hours.size - IngestDocs + 1)
    val order = hours.slice(first, first + IngestDocs)
    var inputs = IndexedSeq.empty[DataFrame]
    for (_ <- 1 to setups) setup {
      // the client's documents, nested by the engine from the source rows
      val nested = nest(flat.filter(col("bucket").isin(order: _*)))
      val rows = tracer.span("spark.collect")(nested.collect()).sortBy(_.getString(0))
      inputs = rows.toIndexedSeq.map(r =>
        spark.createDataFrame(java.util.List.of(r), nested.schema))
    }
    val table = s"${SnapshotStore.root}/doc_ingest"
    val rng = new Random(seed + 1)
    var v = 0
    def storeDocument(): Boolean = {
      val f = tracer.span("operators.flatten")(Flatten.flatten(inputs(v), "bucket"))
      tracer.span("store.commit") {
        DeltaLogStore.commit(spark, table, Some(f), v.toLong)
        tracer.note("files_written", new File(table).list()
          .count(_.startsWith(f"part-v$v%05d-")).toDouble)
      }
      if (v > 0 && v % CheckpointEvery == 0)
        tracer.span("store.checkpoint")(DeltaLogStore.writeCheckpoint(spark, table, v.toLong))
      true
    }
    def getDocument(h: String): Boolean = {
      val df = tracer.span("store.delta_resolve")(DeltaLogStore.read(spark, table))
      fetchAndCheck(nest(df.filter(col("bucket") === h)), docs(h))
    }
    injectedFailure("get_document", "not-yet-committed")(getDocument(order.head))
    // The warm-up ingests one checkpoint interval, checkpoint included;
    // steps were still getting faster after three. The timed steps then
    // start again from an empty table, at least SizeAtDocs of them, so
    // every run's timed steps hold the checkpoint at v = 10 and
    // reach the size point.
    timedSteps("store_document", warmups = SizeAtDocs, min = SizeAtDocs,
        beforeRun = () => { reset(); v = 0 }) {
      if (v == IngestDocs) { reset(); v = 0 }
      op("store_document", order(v))(storeDocument())
      val h = order(rng.nextInt(v + 1))
      op("get_document", h)(getDocument(h))
      v += 1
      // size at a fixed point, so it does not depend on how many
      // documents the run's speed allowed
      if (v == SizeAtDocs && storedBytes == 0L) {
        storedBytes = SnapshotStore.totalSizeBytes(table)
        sourceBytes = order.take(v).map(h => docs(h).getBytes(UTF_8).length.toLong).sum
      }
    }
  }

  // ---- analytics side: registry queries ------------------------------

  /** A fixed list of registry queries: one cold pass from an empty store
    * root (no staged frames, no tuning ledgers) that writes each member's
    * result to `checkDir` for the DuckDB oracle compare, then warm passes
    * through the noop sink in the same JVM. */
  def registryMix(checkDir: String): Unit = {
    val queries = SparkEntry.queries
    val members = RegistryMembers
    def build(name: String): DataFrame = {
      val s0 = Staging.buildSeconds
      val n0 = Staging.buildsSoFar
      tracer.span("queries.build") {
        val d = queries(name)(spark, data)
        tracer.note("staging_build_s", Staging.buildSeconds - s0)
        tracer.note("staging_builds", (Staging.buildsSoFar - n0).toDouble)
        d
      }
    }
    def run(name: String): Boolean = {
      val df = build(name)
      tracer.span("plans.plan")(df.queryExecution.executedPlan)
      tracer.span("spark.write_noop")(df.write.format("noop").mode("overwrite").save())
      true
    }
    // The cold pass is this workload's set-up: it builds the staged
    // frames and ledgers the warm passes reuse. It writes each member's
    // result in `graft.Verify`'s layout for the oracle compare.
    phase = "cold"
    new File(checkDir).mkdirs()
    val t0 = System.nanoTime()
    tracer.active = trace
    tracer.op("bench.setup")(reset())
    step("cold_pass", trace)(for (q <- members) op("registry", q) {
      val df = build(q).coalesce(1)
      tracer.span("plans.plan")(df.queryExecution.executedPlan)
      tracer.span("spark.write_check")(df.write.mode("overwrite").parquet(s"$checkDir/$q"))
      true
    })
    setupS += (System.nanoTime() - t0) / 1e9
    // staged frames are this workload's stored state; stores and stream
    // checkpoints also live under the root but vary with batch timing
    storedBytes = SnapshotStore.totalSizeBytes(Staging.root)
    sourceBytes = new File(data).listFiles().filter(_.getName.endsWith(".parquet"))
      .map(_.length).sum
    injectedFailure("registry", "q_not_registered")(run("q_not_registered"))
    // one untimed warm pass: the first after the cold pass is slower
    phase = "warmup"
    step("warm_pass", trace)(for (q <- members) op("registry", q)(run(q)))
    // a step is one warm pass over every member; a traced run alternates
    // traced and untraced passes
    phase = "run"
    loop(MinSteps) { pass =>
      step("warm_pass", trace && pass % 2 == 1)(for (q <- members) op("registry", q)(run(q)))
    }
    tracer.active = false
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => members.contains(k) }
    Files.writeString(Paths.get(checkDir, "oracle_sql.json"),
      Json.obj(oracles.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))
    Files.writeString(Paths.get(checkDir, "queries.json"),
      members.sorted.map(Json.str).mkString("[", ",", "]"))
  }

  // ---- report --------------------------------------------------------

  def report(traceFile: Option[String]): String = {
    val layers = if (trace) {
      tracer.settle()
      val l = new Layers(tracer.spans.toSeq, tracer.counters, steps.toSeq)
      traceFile.foreach(f => Files.writeString(Paths.get(f), l.dump))
      l.metrics
    } else Nil
    Json.obj(Seq(
      "setup_s" -> setupS.map(Json.num).mkString("[", ",", "]"),
      "stored_bytes" -> storedBytes.toString,
      "source_bytes" -> sourceBytes.toString,
      "steps" -> steps.map(u => Json.obj(Seq("label" -> Json.str(u.label),
        "phase" -> Json.str(u.phase), "ms" -> Json.num(u.ms), "ok" -> u.ok.toString,
        "traced" -> u.traced.toString))).mkString("[", ",", "]"),
      "ops" -> ops.map(o => Json.obj(Seq("kind" -> Json.str(o.kind),
        "name" -> Json.str(o.name), "step" -> o.step.toString, "ms" -> Json.num(o.ms),
        "ok" -> o.ok.toString, "error" -> Json.str(o.error)))).mkString("[", ",", "]"),
      "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) })))
  }
}

object Bench {
  /** The canonical GeoJSON feature properties. */
  val Props = Seq("uuid", "id", "color", "direction", "distance", "distanceFromPoint",
    "lineId", "uuidx")
  /** The paper's MAX_DOCUMENTS. */
  val IngestDocs = 100
  /** Delta's default checkpoint cadence; the benchmark writes it itself. */
  val CheckpointEvery = 10
  /** Documents after which the ingest store is measured: the first
    * checkpoint interval, checkpoint included. */
  val SizeAtDocs = CheckpointEvery + 1
  /** Steps run even when `--seconds` is shorter. */
  val MinSteps = 2
  /** One member per layer: a staged frame with the largest shuffle,
    * micro-batches, and a store write with as-of replay. (`q_ktruss`
    * stages the same frame plus its peel rounds: 20 s of cold pass
    * against 14 s, too long for the run budget.) */
  val RegistryMembers = Seq("q_clustering_coeff", "q_stream_dedup", "q_time_travel")

  /** GeoJSON text with object keys sorted, so two documents compare by
    * content whatever their field order. */
  def canonical(v: Any): String = {
    val sb = new StringBuilder
    def go(x: Any): Unit = x match {
      case null => sb ++= "null"
      case r: Row => go(r.schema.fieldNames.zip(r.toSeq).toMap)
      case m: scala.collection.Map[_, _] =>
        sb += '{'
        m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1).zipWithIndex.foreach {
          case ((k, x), i) => if (i > 0) sb += ','; sb ++= Json.str(k); sb += ':'; go(x)
        }
        sb += '}'
      case s: String => sb ++= Json.str(s)
      case s: scala.collection.Seq[_] =>
        sb += '['
        s.zipWithIndex.foreach { case (x, i) => if (i > 0) sb += ','; go(x) }
        sb += ']'
      case x => sb ++= x.toString
    }
    go(v)
    sb.toString
  }
}

/** Per-layer figures of a traced run. Self time of a span is its
  * duration minus what its child spans cover; the self time of the root
  * span of every op is `bench.other`, so the layers sum to the wall time
  * of the traced ops exactly. */
final class Layers(spans: Seq[Span], counters: Int => Counters, steps: Seq[Step]) {
  private val done = spans.filter(_.endNs > 0)
  private val children = done.groupBy(_.parent)
  private def self(s: Span): Double =
    s.ms - children.getOrElse(s.id, Nil).map(_.ms).sum
  private val ops = done.filter(s => s.parent == -1 && s.name != "bench.setup")
  private val opIds = ops.map(_.op).toSet
  /** Spans of one layer inside ops; set-up calls count only in self times. */
  private def named(n: String) = done.filter(s => s.name == n && opIds(s.op))
  private def meanMs(n: String) = { val s = named(n); if (s.isEmpty) 0.0 else s.map(_.ms).sum / s.size }
  private def sum(ss: Seq[Span]): Counters = { val c = new Counters; ss.foreach(s => c += counters(s.id)); c }
  private def extra(n: String, k: String) = named(n).map(_.extra.getOrElse(k, 0.0)).sum
  private def perSpan(n: String, v: Double) = if (named(n).isEmpty) 0.0 else v / named(n).size
  private val all = sum(done.filter(s => opIds(s.op)))
  private val nOps = math.max(ops.size, 1).toDouble
  private val opWallMs = ops.map(_.ms).sum

  /** Self time per layer that has spans; a layer without spans is absent. */
  val selfTimes: Seq[(String, Double)] =
    done.groupBy(s => if (s.parent == -1) "bench.other" else s.name)
      .map { case (n, ss) => n -> ss.map(self).sum / 1e3 }.toSeq.sortBy(_._1)
  val wallS: Double = done.filter(_.parent == -1).map(_.ms).sum / 1e3

  /** Median traced step time over median untraced step time, minus one,
    * taken per step label and then the median over labels. */
  val overhead: Double = {
    def med(xs: Seq[Double]) = { val s = xs.sorted; if (s.isEmpty) Double.NaN else s(s.size / 2) }
    val ratios = steps.filter(u => u.ok && u.phase == "run").groupBy(_.label).values.flatMap { us =>
      val (t, n) = us.partition(_.traced)
      if (t.isEmpty || n.isEmpty) None else Some(med(t.map(_.ms)) / med(n.map(_.ms)) - 1)
    }.toSeq
    if (ratios.isEmpty) 0.0 else med(ratios)
  }

  def metrics: Seq[(String, Double)] = Seq(
    "store.lookup_ms" -> meanMs("store.lookup"),
    "store.lookup_jobs_per_op" -> perSpan("store.lookup", sum(named("store.lookup")).jobs.toDouble),
    "plans.plan_ms" -> meanMs("plans.plan"),
    "spark.jobs_per_op" -> all.jobs / nOps,
    "spark.stages_per_op" -> all.stages / nOps,
    "spark.tasks_per_op" -> all.tasks / nOps,
    "spark.task_deser_ms" -> all.taskDeserMs / nOps,
    "operators.nest_ms" -> meanMs("operators.nest"),
    "scan.files_per_op" -> all.scanFiles / nOps,
    "scan.bytes_per_op" -> all.inputBytes / nOps,
    "scan.partitions_read_per_op" -> all.scanPartitions / nOps,
    "operators.flatten_ms" -> meanMs("operators.flatten"),
    "store.commit_ms" -> meanMs("store.commit"),
    "store.files_written_per_op" -> perSpan("store.commit", extra("store.commit", "files_written")),
    "store.checkpoint_ms" -> meanMs("store.checkpoint"),
    "store.bytes_written_per_op" ->
      perSpan("store.commit", sum(named("store.commit")).outputBytes.toDouble),
    "store.delta_resolve_ms" -> meanMs("store.delta_resolve"),
    "store.log_files_read_per_op" ->
      perSpan("store.delta_resolve", sum(named("store.delta_resolve")).scanFiles.toDouble),
    "queries.build_s" -> meanMs("queries.build") / 1e3,
    "queries.eager_jobs" -> perSpan("queries.build", sum(named("queries.build")).jobs.toDouble),
    "staging.build_s" -> perSpan("queries.build", extra("queries.build", "staging_build_s")),
    "staging.builds" -> perSpan("queries.build", extra("queries.build", "staging_builds")),
    "spark.task_run_s" -> all.taskRunMs / 1e3 / nOps,
    "spark.busy_cores" -> (if (opWallMs > 0) all.taskRunMs / opWallMs else 0.0),
    "spark.task_gc_s" -> all.taskGcMs / 1e3 / nOps,
    "spark.shuffle_bytes" -> all.shuffleBytes / nOps,
    "spark.shuffle_fetch_wait_s" -> all.fetchWaitMs / 1e3 / nOps,
    "spark.serial_stage_ms" -> all.serialStageMs / nOps,
    "streaming.batches" -> all.batches / nOps,
    "streaming.batch_ms" -> (if (all.batches > 0) all.batchMs.toDouble / all.batches else 0.0),
    "trace.ops" -> ops.size.toDouble,
    "trace.wall_s" -> wallS,
    "trace.overhead_frac" -> overhead) ++
    selfTimes.map { case (n, s) => s"self.${n}_s" -> s }

  /** Every span with its counters, the self-time table and the overhead. */
  def dump: String = Json.obj(Seq(
    "wall_s" -> Json.num(wallS),
    "overhead_frac" -> Json.num(overhead),
    "self_s" -> Json.obj(selfTimes.map { case (n, s) => n -> Json.num(s) }),
    "spans" -> done.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
        "name" -> Json.str(s.name), "start_ns" -> s.startNs.toString,
        "end_ns" -> s.endNs.toString,
        "counters" -> Json.obj(counters(s.id).fields.map { case (k, v) => k -> v.toString } ++
          s.extra.toSeq.map { case (k, v) => k -> Json.num(v) })))
    }.mkString("[\n", ",\n", "]")))
}

object Json {
  def str(s: String): String =
    if (s.forall(c => c >= ' ' && c != '"' && c != '\\')) "\"" + s + "\""
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
