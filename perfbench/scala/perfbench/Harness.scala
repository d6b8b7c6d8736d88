package perfbench

import graft.engine.GraftSession
import graft.json._
import graft.schema.{Resolver, SchemaDoc}
import graft.validate.Options
import org.apache.spark.sql.SparkSession
import java.io.File
import scala.collection.mutable.ArrayBuffer

/** One JVM leg of a benchmark run, launched by `perfbench/run.py`:
  *
  * {{{
  * java ... perfbench.Harness --workload W --cores N --seed S --seconds X
  *   --min-passes K --trace 0|1 --calls 0|1 --call-warm N --call-rounds N
  *   --gen-only 0|1 --data DIR --work DIR --repo DIR --out FILE
  * }}}
  *
  * The seed picks an input variant. With `--gen-only 1` it only generates
  * the inputs (and oracle references) of the comma-separated workloads
  * that are not cached yet for that variant. With `--calls 1` it only runs
  * `Jinx.validate` call loops over the draft-7 suite, one per core, and
  * writes what they measured. Otherwise it runs each workload in turn in
  * one SparkSession (a cold pass, then warm passes in a closed loop for
  * `--seconds`), and writes one JSON list with what it measured per
  * workload and its cached reference. */
object Harness {

  def session(cores: Int, work: String): SparkSession = {
    val s = GraftSession.tune(SparkSession.builder())
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.default.parallelism", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val (data, work) = (arg(args, "data"), arg(args, "work"))
    val seed = Workloads.variant(arg(args, "seed").toLong)
    val workloads = arg(args, "workload").split(",").toSeq.map(Workloads.all)
    if (arg(args, "gen-only") == "1") return generate(workloads, seed, data, work)
    val cores = arg(args, "cores").toInt
    val out = new File(arg(args, "out")).toPath
    if (arg(args, "calls") == "1") {
      // a leg of its own, without Spark, so no Spark thread competes
      val calls = CallLoop.measure(arg(args, "repo"), cores, arg(args, "call-warm").toInt,
        arg(args, "call-rounds").toInt)
      java.nio.file.Files.writeString(out, json.writeValueAsString(calls))
      return
    }
    workloads.foreach(w => require(ready(w, data, seed), s"inputs of ${w.name} variant $seed are not generated"))
    val spark = session(cores, work)
    val counters = new Counters(spark)
    val results = workloads.zipWithIndex.map { case (w, k) =>
      // set-up is counted from JVM start for the leg's first workload only
      val startMs = if (k == 0) jvmStartMs else System.currentTimeMillis()
      Workloads.withConf(spark, w)(
        run(new Ctx(spark, counters, cores, seed, data, work), w, startMs, arg(args, "seconds").toDouble,
          arg(args, "min-passes").toInt, arg(args, "trace") == "1"))
    }
    spark.stop()
    java.nio.file.Files.writeString(out, json.writeValueAsString(results))
  }

  /** One workload in this leg's session: a cold pass, then warm passes for
    * `seconds` and until at least `minPasses` passes ran. Traced legs
    * alternate tracing on and off so the overhead is measured in one JVM. */
  private def run(ctx: Ctx, workload: Workload, startMs: Long, seconds: Double, minPasses: Int,
      trace: Boolean): Map[String, Any] = {
    val passes = ArrayBuffer[Map[String, Any]]()
    var coldEndMs = 0L
    var warmStart = 0L
    var i = 0
    while (i < minPasses || (System.nanoTime() - warmStart) / 1e9 < seconds) {
      Trace.enabled = trace && i % 2 == 0
      Trace.newRun()
      passes += runPass(ctx, workload, i)
      Trace.enabled = false
      if (i == 0) { coldEndMs = System.currentTimeMillis(); warmStart = System.nanoTime() }
      i += 1
    }

    // layer numbers come from the warm traced passes, or from the cold one
    // when a leg runs only that
    val traced = (if (passes.size > 1) passes.drop(1) else passes).filter(_("traced") == true).toSeq
    def cold(k: String) = passes.head("window").asInstanceOf[Map[String, Any]](k).toString.toDouble
    val layers: Map[String, Double] =
      if (!trace) Map.empty
      else workload.layers(ctx, traced) ++ Map(
        "codegen.compile_ms" -> cold("codegen_ms"), "codegen.classes" -> cold("codegen_classes"),
        "codegen.max_method_bytes" -> ctx.counters.maxMethodBytes.toDouble)
    val spans = Trace.drain()
    Map(
      "workload" -> workload.name, "cores" -> ctx.cores, "docs" -> workload.docs,
      "setup_s" -> (coldEndMs - startMs) / 1000.0,
      "passes" -> passes.toSeq,
      "reference" -> json.readValue(new File(workload.dir(ctx), "reference.json"), classOf[Map[String, Any]]),
      "layers" -> layers,
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "parent" -> s.parent, "run" -> s.run)),
      "env" -> Map("nproc" -> Runtime.getRuntime.availableProcessors,
        "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "spark" -> org.apache.spark.SPARK_VERSION, "jdk" -> sys.props("java.version")))
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  private def ready(w: Workload, data: String, variant: Long) =
    new File(w.dir(data, variant), ".complete").exists()

  /** Generate the inputs of the named workloads for an input variant, and
    * the once-per-variant reference their oracles need, in a JVM of its own
    * (at `local[4]`) so the legs that measure always start cold from cached
    * inputs. */
  private def generate(workloads: Seq[Workload], variant: Long, data: String, work: String): Unit = {
    val todo = workloads.filterNot(ready(_, data, variant))
    if (todo.nonEmpty) {
      val spark = session(4, work)
      val ctx = new Ctx(spark, new Counters(spark), 4, variant, data, work)
      todo.foreach(w => Workloads.withConf(spark, w) {
        w.inputs(ctx)
        java.nio.file.Files.writeString(new File(w.dir(ctx), "reference.json").toPath,
          json.writeValueAsString(w.reference(ctx)))
        new File(w.dir(ctx), ".complete").createNewFile()
      })
      spark.stop()
    }
  }

  /** One pass: its wall time, its output summary (or the error it threw),
    * the Spark window around it and, when traced, its per-layer steps. */
  private def runPass(ctx: Ctx, w: Workload, i: Int): Map[String, Any] = {
    ctx.steps.clear()
    ctx.counters.reset()
    val m = ctx.counters.mark()
    val t0 = System.nanoTime()
    val summarize = try Right(Trace.span("pass")(w.pass(ctx, i)))
      catch { case e: Throwable => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    val window = ctx.counters.since(m)
    val summary = summarize.flatMap(f => try Right(f()) catch { case e: Throwable => Left(e) }) match {
      case Right(s) => s
      case Left(e) => e.printStackTrace(); Map("error" -> String.valueOf(e))
    }
    val steps = ctx.steps.map { case (n, s, win) => n -> (win.toMap + ("s" -> s) + ("write_s" -> win.writeS)) }.toMap
    Map("s" -> secs, "traced" -> Trace.enabled, "summary" -> summary,
      "window" -> window.toMap, "steps" -> steps,
      "bucket_s" -> ctx.steps.filter(_._1 == "CheckpointedValidation.run").flatMap(_._3.writeS).toSeq) ++
      ctx.steps.map { case (n, s, _) => s"step.$n" -> s }
  }

  private val excludedGroups = Set(
    "format: uri-template", "validation of an internationalized e-mail addresses",
    "patterns always use unicode semantics with pattern",
    "patterns always use unicode semantics with patternProperties",
    "pattern with non-ASCII digits", "patternProperties with non-ASCII digits")
  private val excludedCases: Set[(String, String)] = Set(
    ("ECMA 262 regex $ does not match trailing newline", "matches in Python, but not in ECMA 262"),
    ("ECMA 262 regex escapes control codes with \\c and lower letter", "matches"),
    ("ECMA 262 \\s matches whitespace", "latin-1 non-breaking-space matches"),
    ("ECMA 262 \\s matches whitespace", "zero-width whitespace matches"),
    ("ECMA 262 \\s matches whitespace", "paragraph separator matches (line terminator)"),
    ("ECMA 262 \\s matches whitespace", "EM SPACE matches (Space_Separator)"),
    ("ECMA 262 \\S matches everything but whitespace", "latin-1 non-breaking-space does not match"),
    ("ECMA 262 \\S matches everything but whitespace", "zero-width whitespace does not match"),
    ("ECMA 262 \\S matches everything but whitespace", "paragraph separator does not match (line terminator)"),
    ("ECMA 262 \\S matches everything but whitespace", "EM SPACE does not match (Space_Separator)"))

  /** The vendored draft-7 suite, with the exclusions OfficialSuiteSpec makes
    * (the two lists above are copied from it): (compiled schema, instance,
    * expected valid). */
  def suite(repo: String): Seq[(SchemaDoc, JVal, Boolean)] = {
    def files(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(files)
      else if (f.getName.endsWith(".json")) Seq(f) else Nil
    def str(v: Option[JVal]) = v.collect { case JStr(s) => s }.getOrElse("?")
    for {
      file <- files(new File(s"$repo/src/test/resources/draft7"))
      g <- Json.parse(new String(java.nio.file.Files.readAllBytes(file.toPath), "UTF-8"))
        .asInstanceOf[JArr].items.map(_.asInstanceOf[JObj])
      if !excludedGroups(str(g.get("description")))
      schema = SchemaDoc.schema(g.get("schema").get)
      t <- g.get("tests").collect { case JArr(t) => t }.getOrElse(Vector.empty).map(_.asInstanceOf[JObj])
      if !excludedCases((str(g.get("description")), str(t.get("description"))))
    } yield (schema, t.get("data").get, t.get("valid").collect { case JBool(b) => b }.get)
  }

  /** Closed single-threaded loop of `Jinx.validate(schema, instance)` calls
    * over the suite cases. Each round is one sweep over the cases followed
    * by one `Reference.round()` on the same thread; a timed round keeps the
    * nearest-rank p50 and p99 of its calls and the reference's time. `wrong`
    * counts cases whose verdict is not the expected one. */
  final class CallLoop(repo: String) {
    private val remotes = new File(s"$repo/src/test/resources/remotes")
    private val opts = Options(resolvers = Seq(Resolver.BuiltIn, Resolver.MapResolver(patterns = Seq(
      "http://localhost:1234/(.*)".r -> ((rel: String) => Resolver.FromFile(new File(remotes, rel).getPath))))))
    val cases: Seq[(SchemaDoc, JVal, Boolean)] = suite(repo)
    val wrong: Int = cases.count { case (s, d, ok) => graft.Jinx.validate(s, d, opts).valid != ok }
    val roundP50Us = ArrayBuffer[Double]()
    val roundP99Us = ArrayBuffer[Double]()
    val roundRefUs = ArrayBuffer[Double]()
    var samples = 0L

    /** `rounds` rounds over the cases. */
    def run(rounds: Int, timed: Boolean): Unit = {
      val ns = new Array[Long](cases.size)
      for (_ <- 0 until rounds) {
        var i = 0
        cases.foreach { case (s, d, _) =>
          val a = System.nanoTime()
          graft.Jinx.validate(s, d, opts)
          ns(i) = System.nanoTime() - a
          i += 1
        }
        val r = System.nanoTime()
        Reference.round()
        val refNs = System.nanoTime() - r
        if (timed) {
          java.util.Arrays.sort(ns)
          roundP50Us += nearestRank(ns, 50.0) / 1e3
          roundP99Us += nearestRank(ns, 99.0) / 1e3
          roundRefUs += refNs / 1e3
          samples += ns.length
        }
      }
    }
  }

  /** Nearest-rank percentile `p` of an ascending array: the element at rank
    * ceil(p * n / 100), the product rounded to 6 decimals first so that 99%
    * of 1000 is rank 990, not 991. */
  def nearestRank(sorted: Array[Long], p: Double): Long = {
    val rank = math.ceil(math.round(p * sorted.length / 100.0 * 1e6) / 1e6).toInt
    sorted(math.max(1, rank) - 1)
  }

  object CallLoop {
    /** `threads` independent call loops, each on its own thread and its own
      * copy of the suite, warmed up together for `warm` rounds each and then
      * timed together for `rounds` each. Running one per core averages over
      * the cores, whose speed a shared host changes independently of each
      * other. */
    def measure(repo: String, threads: Int, warm: Int, rounds: Int): Map[String, Any] = {
      val loops = Seq.fill(threads)(new CallLoop(repo))
      def together(f: CallLoop => Unit): Unit = {
        val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val ts = loops.map(l => new Thread(() => try f(l) catch { case e: Throwable => failures.add(e) }))
        ts.foreach(_.start())
        ts.foreach(_.join())
        Option(failures.peek()).foreach(e => throw e)
      }
      together(_.run(warm, timed = false))
      together(_.run(rounds, timed = true))
      Map("cases" -> loops.head.cases.size, "wrong" -> loops.head.wrong, "threads" -> threads,
        "samples" -> loops.map(_.samples).sum,
        "round_p50_us" -> loops.flatMap(_.roundP50Us), "round_p99_us" -> loops.flatMap(_.roundP99Us),
        "round_ref_us" -> loops.flatMap(_.roundRefUs))
    }
  }

  /** Fixed work that calls nothing of the program: string keys into a hash
    * map, then a sort. Timed right after a round of calls on the same thread,
    * it tells how fast the host ran that thread just then (a shared host
    * slows single cores by up to 1.8x for seconds at a time). About 1 ms on
    * an uncontended 4-core Xeon (Sapphire Rapids) KVM guest. */
  object Reference {
    @volatile private var sink = 0L

    def round(): Unit = {
      var j = 0
      while (j < 5) { sink += once(); j += 1 }
    }

    private def once(): Long = {
      val m = new java.util.HashMap[String, java.lang.Long]()
      var i = 0
      var acc = 0L
      while (i < 3000) {
        val k = "key" + (i * 7919 % 1000)
        val v = m.get(k)
        m.put(k, if (v == null) i.toLong else v + i)
        acc += k.hashCode
        i += 1
      }
      val values = new java.util.ArrayList[java.lang.Long](m.values())
      java.util.Collections.sort(values)
      acc + values.get(0)
    }
  }
}
