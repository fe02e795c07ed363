package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.Instant

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** Closed-loop client for the graft query registry.
  *
  * One caller issues one call at a time: per-call arguments go in as
  * `spark.graft.param.*` session settings, the query's DataFrame is
  * built through `SparkEntry.queries(key)(spark, dir)` and run through
  * the `noop` sink. Nothing is unpersisted and no GC is forced between
  * calls, as in a user's driver.
  *
  * Usage:
  *   Driver run <plan.json> <out.json>   cold pass, gate, warm passes
  *   Driver setup <launch_epoch_us>      print seconds from launch to ready
  *
  * The plan (written by run.py) holds the data dir, the cores, the
  * passes (the first one is the cold pass), which passes to trace and
  * the gate keys. The result file holds raw per-call times; run.py turns them
  * into metrics.
  */
object Driver {
  private val json = new ObjectMapper()

  def epochMicros(): Long = {
    val t = Instant.now()
    t.getEpochSecond * 1000000L + t.getNano / 1000
  }

  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config(graft.sources.Tables.NanosFlag, "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "2000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "setup" :: launchUs :: Nil =>
      session(Runtime.getRuntime.availableProcessors)
      println((epochMicros() - launchUs.toLong) / 1e6)
      System.out.flush()
      Runtime.getRuntime.halt(0) // a sample ends at ready; skip teardown
    case "run" :: planPath :: outPath :: Nil =>
      run(json.readTree(Files.readString(Paths.get(planPath))), outPath)
    case _ =>
      System.err.println("usage: Driver run <plan.json> <out.json> | " +
        "Driver setup <launch_epoch_us>")
      sys.exit(2)
  }

  /** Peak resident set (VmHWM) of this JVM in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** Bytes of files under `root` modified at or after `sinceMs`, and the
    * number of top-level artifact entries.
    */
  def indexWrites(root: Path, sinceMs: Long): (Long, Int) =
    if (!Files.isDirectory(root)) (0L, 0)
    else {
      val w = Files.walk(root)
      val bytes =
        try w.iterator().asScala.filter(Files.isRegularFile(_))
          .filter(p => Files.getLastModifiedTime(p).toMillis >= sinceMs)
          .map(Files.size).sum
        finally w.close()
      val l = Files.list(root)
      val n = try l.count().toInt finally l.close()
      (bytes, n)
    }

  def run(plan: JsonNode, outPath: String): Unit = {
    val launchUs = plan.get("launch_epoch_us").asLong
    val cores = plan.get("cores").asInt
    val dir = plan.get("data").asText
    val tracedPasses = plan.get("traced_passes").elements().asScala
      .map(_.asInt).toSet
    val indexRoot = Paths.get(plan.get("index_dir").asText)

    val spark = session(cores)
    val readyS = (epochMicros() - launchUs) / 1e6
    val tracer =
      if (tracedPasses.nonEmpty) Some(new Tracer(spark.sparkContext)) else None
    val registry = graft.SparkEntry.queries

    val out = json.createObjectNode()
    out.put("setup_s", readyS)
    out.put("spark_version", spark.version)
    out.put("java_version", System.getProperty("java.version"))
    out.put("max_heap_mb", Runtime.getRuntime.maxMemory / 1048576.0)
    val passesOut = out.putArray("passes")
    val planned = plan.get("passes").elements().asScala.toVector

    /** One call: set params, build, sink, unset params. Failures are
      * recorded, never dropped.
      */
    def call(c: JsonNode, pass: Int, tracer: Option[Tracer],
        passSpan: Long): ObjectNode = {
      val key = c.get("key").asText
      val params = c.get("params").fields().asScala
        .map(e => e.getKey -> e.getValue.asText).toVector
      val rec = json.createObjectNode()
      rec.put("key", key)
      val callSpan = tracer.map(_.open("call", "driver", passSpan, key))
      var child: Option[Long] = None
      def enter(name: String, layer: String): Unit = {
        child.foreach(id => tracer.foreach(_.close(id)))
        child = tracer.map(_.open(name, layer, callSpan.get, key))
      }
      val t0 = System.nanoTime()
      var tb = -1L
      try {
        params.foreach { case (k, v) =>
          spark.conf.set(graft.Params.Namespace + k, v) }
        enter("build", "operators")
        val df = registry(key)(spark, dir)
        tb = System.nanoTime()
        enter("sink", "sink")
        df.write.format("noop").mode("overwrite").save()
        rec.put("ok", true)
      } catch {
        case e: Throwable =>
          rec.put("ok", false)
          rec.put("error",
            s"${e.getClass.getName}: ${e.getMessage}".take(300))
      } finally {
        child.foreach(id => tracer.foreach(_.close(id)))
        params.foreach { case (k, _) =>
          spark.conf.unset(graft.Params.Namespace + k) }
      }
      val t1 = System.nanoTime()
      tracer.foreach(_.close(callSpan.get))
      rec.put("build_s", ((if (tb < 0) t1 else tb) - t0) / 1e9)
      rec.put("call_s", (t1 - t0) / 1e9)
      rec.put("pass", pass)
      rec
    }

    // The listener is attached only for the passes the plan traces, so a
    // traced run also yields untraced passes, and the tracing overhead.
    def runPass(i: Int): Unit = {
      val active = tracer.filter(_ => tracedPasses(i))
      active.foreach(_.attach())
      val passSpan = active.map(_.open("pass", "driver", 0L, s"pass$i"))
      val sinceMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val calls = planned(i).elements().asScala.map(c =>
        call(c, i, active, passSpan.getOrElse(0L))).toVector
      val wall = (System.nanoTime() - t0) / 1e9
      active.foreach { t => t.close(passSpan.get); t.drain(); t.detach() }
      val (bytes, artifacts) = indexWrites(indexRoot, sinceMs)
      val p = passesOut.addObject()
      p.put("pass", i)
      p.put("traced", active.isDefined)
      p.put("wall_s", wall)
      p.put("index_bytes_written", bytes)
      p.put("index_artifacts", artifacts)
      val arr = p.putArray("calls")
      calls.foreach(arr.add)
    }

    // the cold pass, the correctness gate, then the warm passes
    runPass(0)
    // correctness gate, outside every timed window, in the layout
    // tools/oracle_check.py reads: each key with default parameters as
    // one parquet dir, and the oracle SQL beside them. It also takes the
    // JIT's settling pass off the warm passes.
    val gate = plan.get("gate")
    val gdir = gate.get("dir").asText
    val g0 = System.nanoTime()
    val oracle = json.createObjectNode()
    val errs = out.putObject("gate_errors")
    gate.get("keys").elements().asScala.map(_.asText).foreach { key =>
      oracle.put(key, graft.SparkEntry.oracleSql(key))
      try registry(key)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"$gdir/$key")
      catch { case e: Throwable =>
        errs.put(key, s"${e.getClass.getName}: ${e.getMessage}".take(300)) }
    }
    Files.writeString(Paths.get(gdir, "oracle_sql.json"),
      json.writeValueAsString(oracle))
    out.put("gate_s", (System.nanoTime() - g0) / 1e9)
    planned.indices.drop(1).foreach(runPass)
    out.put("peak_rss_mb", peakRssMb())
    tracer.foreach { t =>
      // outside every timed window: the heap that survives a full
      // collection after the last pass
      System.gc()
      val mem = java.lang.management.ManagementFactory.getMemoryMXBean
      out.put("heap_after_gc_mb", mem.getHeapMemoryUsage.getUsed / 1048576.0)
      out.set[JsonNode]("trace", t.toJson(json))
    }

    Files.writeString(Paths.get(outPath), json.writeValueAsString(out))
    spark.stop()
  }
}
