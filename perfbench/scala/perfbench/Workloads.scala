package perfbench

import graft.SparkEntry
import graft.engine._
import graft.schema.SchemaDoc
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** What one JVM leg of a run needs: the session, its counters, the input
  * variant the seed picked, and where inputs and scratch outputs
  * live (all inside the checkout). */
final class Ctx(val spark: SparkSession, val counters: Counters, val cores: Int,
    val variant: Long, val data: String, val work: String) {
  /** (layer step, seconds, Spark window) of the current pass; filled only
    * while tracing, so untraced passes pay no bus drains. */
  val steps = ArrayBuffer[(String, Double, Window)]()

  /** One call into a program layer: a span, and when tracing, its time and
    * what Spark did inside it. */
  def step[T](name: String)(f: => T): T = Trace.span(name) {
    if (!Trace.enabled) f
    else {
      val t0 = System.nanoTime()
      val (r, w) = counters.window(f)
      steps += ((name, (System.nanoTime() - t0) / 1e9, w))
      r
    }
  }
}

/** A workload: seeded inputs, one closed-loop pass, a once-per-run reference
  * for its oracle, and the layer metrics a traced run adds. `pass` runs the
  * timed work and returns the untimed part that summarizes its output. */
trait Workload {
  def name: String
  /** Where this workload's inputs for an input variant live. */
  def dir(data: String, variant: Long): String = s"$data/$name-v$variant"
  def dir(ctx: Ctx): String = dir(ctx.data, ctx.variant)
  def inputs(ctx: Ctx): Unit
  def pass(ctx: Ctx, i: Int): () => Map[String, Any]
  def reference(ctx: Ctx): Map[String, Any] = Map.empty
  def layers(ctx: Ctx, traced: Seq[Map[String, Any]]): Map[String, Double] = Map.empty
  def docs: Long
  /** SQL settings in force while this workload generates its inputs and
    * runs its passes. */
  def conf: Map[String, String] = Map.empty
}

object Workloads {
  val all: Map[String, Workload] = Seq(Compiled, RowCore, Quality, Curate).map(w => w.name -> w).toMap

  /** Input files of the validation workloads, and the scan partitions they
    * are read in: four per core, so a core the host slows takes fewer tasks
    * instead of holding up every stage. */
  val files = 16
  val scanConf = Map("spark.sql.files.minPartitionNum" -> files.toString)

  /** Run `f` with `w.conf` set in the session, then restore the settings. */
  def withConf[T](spark: SparkSession, w: Workload)(f: => T): T = {
    val before = w.conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    w.conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The seed picks one of this many input variants (a doc_id range, which
    * malformed lines and which registry schemas), so inputs are generated,
    * and their oracle references computed, once per variant and reused. */
  val variants = 4
  def variant(seed: Long): Long = java.lang.Math.floorMod(seed, variants.toLong)

  def med(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  def keywordCounts(rows: Array[Row]): Map[String, Long] =
    rows.map(r => r.getString(0) -> r.getLong(1)).toMap

  def stepSeconds(traced: Seq[Map[String, Any]], name: String): Double =
    med(traced.flatMap(_.get(s"step.$name").map(_.asInstanceOf[Double])))
}

import Workloads._

/** North-star path: parquet scan → compiled Catalyst validation. */
object Compiled extends Workload {
  val name = "validate_compiled"
  val docs = 48000L
  override def conf: Map[String, String] = scanConf
  def inputs(ctx: Ctx): Unit = Inputs.docTables(ctx.spark, dir(ctx), ctx.variant, docs, files)
  private def table(ctx: Ctx) = ctx.spark.read.parquet(s"${dir(ctx)}/docs.parquet")

  def pass(ctx: Ctx, i: Int): () => Map[String, Any] = {
    val v = ctx.step("ValidationJob.withVerdicts")(
      ValidationJob.withVerdicts(ctx.spark, table(ctx), DocTable.docSchemaJson))
    val kw = ctx.step("ValidationJob.violations")(
      ValidationJob.violations(v).groupBy("keyword").count().collect())
    val parts = ctx.step("ValidationJob.partitionVerdicts")(
      ValidationJob.partitionVerdicts(v, xxhash64(col("doc_id")), 16).collect())
    () => Map(
      "docs" -> parts.map(_.getLong(1)).sum, "pass" -> parts.map(_.getLong(2)).sum,
      "fail" -> parts.map(_.getLong(3)).sum, "violations" -> parts.map(_.getLong(4)).sum,
      "kw" -> keywordCounts(kw))
  }

  /** Span-sequence invariant: validation must pass every doc's spans through
    * unchanged. The DuckDB side of the oracle runs outside the JVM. */
  override def reference(ctx: Ctx): Map[String, Any] = {
    val t = table(ctx)
    val v = ValidationJob.withVerdicts(ctx.spark, t, DocTable.docSchemaJson)
    Map("span_mismatches" -> ValidationJob.spanMismatches(t, v).count(),
      "base" -> s"${dir(ctx)}/base.parquet", "sql_with" -> DocTable.sqlWith)
  }

  /** The ValidationJob layer split at this leg's core count, each step timed
    * as the mean of two after one warm-up: scan-only control, boolean
    * plan, full verdicts, and exploded+grouped violation rows. */
  override def layers(ctx: Ctx, traced: Seq[Map[String, Any]]): Map[String, Double] = {
    val s = ctx.spark
    def rate(n: () => Long): Double = { n(); med((1 to 2).map { _ =>
      val (k, secs) = timed(n()); k / secs }) }
    val c = ctx.cores
    val scan = rate(() => table(ctx).agg(count(lit(1)),
      sum(hash(col("doc_id"), col("spans")).cast("long"))).collect()(0).getLong(0))
    val verdict = rate(() => ValidationJob.withVerdictsOnly(s, table(ctx), DocTable.docSchemaJson)
      .agg(count(lit(1)), sum(when(col("valid"), 0L).otherwise(1L))).collect()(0).getLong(0))
    val full = rate(() => ValidationJob.withVerdicts(s, table(ctx), DocTable.docSchemaJson)
      .agg(count(lit(1)), sum(size(col("errors")).cast("long"))).collect()(0).getLong(0))
    val violationRows = rate(() => ValidationJob.violations(
        ValidationJob.withVerdicts(s, table(ctx), DocTable.docSchemaJson))
      .groupBy("keyword").count().collect().map(_.getLong(1)).sum)
    val (fail, _) = timed(ValidationJob.withVerdictsOnly(s, table(ctx), DocTable.docSchemaJson)
      .where(!col("valid")).count())
    Map(s"ValidationJob.scan_docs_per_s_$c" -> scan,
      s"ValidationJob.verdict_docs_per_s_$c" -> verdict,
      s"ValidationJob.full_docs_per_s_$c" -> full,
      s"ValidationJob.violation_rows_per_s_$c" -> violationRows,
      "ValidationJob.invalid_share" -> fail.toDouble / docs) ++ compilerLayers(ctx)
  }

  /** Schema compile and Catalyst expression build, from outside: medians of
    * 20 calls, plus the size of the built expression trees. */
  def compilerLayers(ctx: Ctx): Map[String, Double] = {
    val t = table(ctx)
    val fields = t.schema.fields.filter(f => f.name == "doc_id" || f.name == "spans")
    val dt = org.apache.spark.sql.types.StructType(fields)
    val payload = struct(fields.map(f => col(f.name)).toSeq: _*)
    val compileMs = med((1 to 20).map(_ => timed(SchemaDoc.schema(DocTable.docSchemaJson))._2 * 1e3))
    val doc = SchemaDoc.schema(DocTable.docSchemaJson)
    val buildMs = med((1 to 20).map(_ => timed {
      ColumnCompiler.valid(doc, payload, dt); ColumnCompiler.errors(doc, payload, dt)
    }._2 * 1e3))
    val built = t.select(ColumnCompiler.valid(doc, payload, dt).as("v"),
      ColumnCompiler.errors(doc, payload, dt).as("e"))
    val nodes = built.queryExecution.analyzed.expressions.map(_.collect { case e => e }.size).sum
    Map("SchemaDoc.compile_ms" -> compileMs, "ColumnCompiler.build_ms" -> buildMs,
      "ColumnCompiler.expr_nodes" -> nodes.toDouble)
  }
}

/** The draft-7 row core: JSON lines through `JsonLines.validateStrings` with
  * a schema the column compiler rejects, and a two-schema registry. */
object RowCore extends Workload {
  val name = "validate_rowcore"
  val docs = 6000L
  /** `DocTable.docSchemaJson` plus an optional property with a recursive
    * `$ref`: the same verdicts on these docs, but not column-expressible. */
  val recSchemaJson: String = {
    import java.util.regex.Matcher.quoteReplacement
    DocTable.docSchemaJson
      .replaceFirst("\\{", quoteReplacement(
        """{"definitions": {"node": {"type": "object", "properties": {"child": {"$ref": "#/definitions/node"}}}},"""))
      .replaceFirst("\"properties\": \\{", quoteReplacement(
        """"properties": {"meta": {"$ref": "#/definitions/node"},"""))
  }

  override def conf: Map[String, String] = scanConf
  def inputs(ctx: Ctx): Unit = Inputs.rowcore(ctx.spark, dir(ctx), ctx.variant, docs, files)
  private def lines(ctx: Ctx) = {
    import ctx.spark.implicits._
    ctx.spark.read.parquet(s"${dir(ctx)}/lines.parquet").select("doc_num", "line").as[(Long, String)]
  }
  private def tagged(ctx: Ctx) = ctx.spark.read.parquet(s"${dir(ctx)}/tagged.parquet")

  def pass(ctx: Ctx, i: Int): () => Map[String, Any] = {
    val jv = ctx.step("JsonLines.validateStrings")(
      JsonLines.validateStrings(ctx.spark, lines(ctx), recSchemaJson))
    val verdicts = ctx.step("JsonLines.verdicts")(jv.groupBy("valid").count().collect())
    val kw = ctx.step("JsonLines.violations")(jv.select(explode(col("errors.keyword")).as("keyword"))
      .groupBy("keyword").count().collect())
    val registry = ctx.step("SchemaRegistry.compile")(SchemaRegistry.compile(
      Map("doc" -> DocTable.docSchemaJson, "doc_rec" -> recSchemaJson)))
    val reg = ctx.step("SchemaRegistry.validateWith")(SchemaRegistry.validateWith(
        ctx.spark, tagged(ctx), registry, "schema")
      .groupBy("schema", "valid").count().collect())
    () => Map(
      "docs" -> verdicts.map(_.getLong(1)).sum,
      "valid" -> verdicts.filter(_.getBoolean(0)).map(_.getLong(1)).sum,
      "kw" -> keywordCounts(kw),
      "registry" -> reg.map(r => s"${r.getString(0)}:${r.getBoolean(1)}" -> r.getLong(2)).toMap)
  }

  /** The compiled path's verdicts for the same docs are the oracle: per doc,
    * JSONL and compiled verdicts must agree, and every malformed line must
    * be exactly one `parse` violation. */
  override def reference(ctx: Ctx): Map[String, Any] = {
    val s = ctx.spark
    val cv = ValidationJob.withVerdicts(s, tagged(ctx).drop("schema"), DocTable.docSchemaJson)
      .select(col("doc_num"), col("valid").as("cvalid"), col("errors.keyword").as("ckw"))
    val ln = s.read.parquet(s"${dir(ctx)}/lines.parquet").select("doc_num", "malformed")
    val jv = JsonLines.validateStrings(s, lines(ctx), recSchemaJson)
      .select(col("doc_num"), col("valid"), col("errors.keyword").as("kw"))
    val joined = jv.join(ln, "doc_num").join(cv, "doc_num")
    val wellFormed = joined.where(!col("malformed"))
    val verdictMismatches = wellFormed.where(col("valid") =!= col("cvalid") ||
      array_sort(col("kw")) =!= array_sort(col("ckw"))).count()
    val badParse = joined.where(col("malformed") &&
      !(size(col("kw")) === 1 && element_at(col("kw"), 1) === "parse")).count()
    val malformedN = ln.where(col("malformed")).count()
    val expValid = wellFormed.where(col("cvalid")).count()
    val expKw = keywordCounts(wellFormed.select(explode(col("ckw")).as("k"))
      .groupBy("k").count().collect()) ++ (if (malformedN > 0) Map("parse" -> malformedN) else Map())
    val expReg = cv.join(tagged(ctx).select("doc_num", "schema"), "doc_num")
      .groupBy("schema", "cvalid").count().collect()
      .map(r => s"${r.getString(0)}:${r.getBoolean(1)}" -> r.getLong(2)).toMap
    Map("verdict_mismatches" -> verdictMismatches, "bad_parse_lines" -> badParse,
      "malformed" -> malformedN,
      "expected" -> Map("docs" -> docs, "valid" -> expValid, "kw" -> expKw, "registry" -> expReg))
  }

  override def layers(ctx: Ctx, traced: Seq[Map[String, Any]]): Map[String, Double] = {
    val sample = ctx.spark.read.parquet(s"${dir(ctx)}/lines.parquet")
      .where(!col("malformed")).select("line").limit(4000).collect().map(_.getString(0))
    val rec = SchemaDoc.schema(recSchemaJson)
    def perCall[T](xs: Seq[T])(f: T => Any): Double = {
      xs.foreach(f)
      med((1 to 5).map(_ => timed(xs.foreach(f))._2 * 1e6 / xs.size))
    }
    val parseUs = perCall(sample.toSeq)(graft.json.Json.parse)
    val parsed = sample.map(graft.json.Json.parse).toSeq
    val callUs = perCall(parsed)(d => graft.validate.Validator.validate(rec, d, graft.validate.Options()))
    val errs = parsed.map(d => RowValidator.leafErrors(
      graft.validate.Validator.validate(rec, d, graft.validate.Options()).errors).size)
    val jsonTasks = traced.flatMap(_("steps").asInstanceOf[Map[String, Map[String, Any]]].get("JsonLines.verdicts"))
    val perTask = med(jsonTasks.map(x => docs / x("task_s").toString.toDouble))
    val regS = stepSeconds(traced, "SchemaRegistry.validateWith")
    val tagged0 = tagged(ctx)
    val rowcoreShare = tagged0.where(col("schema") === "doc_rec").count().toDouble / docs
    Map("Json.parse_us" -> parseUs, "Validator.call_us" -> callUs,
      "Validator.errors_per_doc" -> errs.sum.toDouble / errs.size,
      "JsonLines.docs_per_s_per_task" -> perTask,
      "SchemaRegistry.docs_per_s" -> docs / regS,
      "SchemaRegistry.rowcore_share" -> rowcoreShare)
  }
}

/** The `graft.Main` shape: bucketed snapshot, checkpointed validation,
  * table checks, drift and sketches, then a failure and a resume. */
object Quality extends Workload {
  val name = "quality_run"
  val docs = 16000L
  val buckets = 6
  def inputs(ctx: Ctx): Unit = Inputs.baseTable(ctx.spark, dir(ctx), ctx.variant, docs)

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(); ()
  }

  /** Per bucket, the verdict files' bytes, keyed by bucket and part number
    * (file names otherwise carry a per-write UUID). */
  private def digest(out: String): Map[String, String] = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (0 until buckets).flatMap { b =>
      Option(new java.io.File(s"$out/bucket=$b").listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet")).map { f =>
          s"$b/${f.getName.take(10)}" -> md.digest(java.nio.file.Files.readAllBytes(f.toPath))
            .map("%02x".format(_)).mkString
        }
    }.toMap
  }

  private def lineage(cp: String): Map[String, Long] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val ls = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(cp, "lineage.jsonl"))
    val rows = (0 until ls.size).map(i => m.readTree(ls.get(i)))
    Seq("rows", "pass_count", "fail_count", "violations")
      .map(k => k -> rows.map(_.get(k).asLong).sum).toMap
  }

  def pass(ctx: Ctx, i: Int): () => Map[String, Any] = {
    val s = ctx.spark
    val root = s"${ctx.work}/quality/p$i"
    rm(new java.io.File(root))
    val snap = ctx.step("ParquetSnapshotTable.materialize")(ParquetSnapshotTable.materialize(
      DocTable.fromBase(s.read.parquet(s"${dir(ctx)}/base.parquet")), s"$root/table", "snap", "doc_id", buckets))
    ctx.step("CheckpointedValidation.run")(CheckpointedValidation.run(
      s, snap, DocTable.docSchemaJson, s"$root/outA", new CheckpointManager(s"$root/cpA")))
    val all = ParquetSnapshotTable.readAll(s, snap)
    val dups = ctx.step("Checks.duplicateKeys")(Checks.duplicateKeys(all, "doc_id").collect())
    val dangling = ctx.step("Checks.danglingRefs")(Checks.danglingRefs(
      all.select(explode(col("spans")).as("s")).select(col("s.media_ref").as("media_ref")),
      "media_ref", DocTable.mediaCatalog(s), "media_ref").collect())
    val profile = ctx.step("Checks.profile")(Checks.profile(
      all.select(size(col("spans")).as("n_spans")), Seq("n_spans"), approxDistinct = true).collect())
    // two populations: even doc_num is the reference, odd is shifted by 40
    val values = all.select(col("doc_num"),
      (pmod(xxhash64(col("doc_num")), lit(1000L)) + when(col("doc_num") % 2 === 1, 40).otherwise(0))
        .cast("double").as("v"))
    val bins = ctx.step("Checks.driftBins")(Checks.driftBins(values, "v", col("doc_num") % 2 === 0, 50.0).collect())
    val (ref, cur) = (values.where(col("doc_num") % 2 === 0), values.where(col("doc_num") % 2 === 1))
    val (sRef, sCur) = ctx.step("TypedAggregators.sketchColumn")(
      (TypedAggregators.sketchColumn(ref, "v"), TypedAggregators.sketchColumn(cur, "v")))
    () => {
      val (r, c) = (bins.map(_.getLong(1)).toSeq, bins.map(_.getLong(2)).toSeq)
      // failure injected before the middle bucket, then a resume whose
      // output must be byte-identical to the uninterrupted run
      try CheckpointedValidation.run(s, snap, DocTable.docSchemaJson, s"$root/outB",
          new CheckpointManager(s"$root/cpB"), failBeforeBucket = Some(buckets / 2))
      catch { case _: CheckpointedValidation.SimulatedFailure => () }
      val (_, resumeS) = timed(CheckpointedValidation.run(s, snap, DocTable.docSchemaJson,
        s"$root/outB", new CheckpointManager(s"$root/cpB")))
      val (dA, dB) = (digest(s"$root/outA"), digest(s"$root/outB"))
      val p = profile(0)
      Map(
        "lineage" -> lineage(s"$root/cpA"),
        "dup_keys" -> dups.length.toLong, "dup_rows" -> dups.map(_.getLong(1)).sum,
        "dangling_refs" -> dangling.length.toLong, "dangling_rows" -> dangling.map(_.getLong(1)).sum,
        "profile" -> Map("total" -> p.getLong(1), "nulls" -> p.getLong(2),
          "min" -> p.getDouble(3), "max" -> p.getDouble(4), "distinct" -> p.getLong(5)),
        "drift" -> Map("psi_bins" -> Drift.psi(r, c), "ks_bins" -> Drift.ks(r, c),
          "psi_sketch" -> QuantileSketch.psi(sRef, sCur), "ks_sketch" -> QuantileSketch.ks(sRef, sCur)),
        "resume_s" -> resumeS, "resumed_identical" -> (dA.nonEmpty && dA == dB),
        "rank_err" -> rankErr(ref, sRef),
        "bytes_written" -> (dirBytes(new java.io.File(s"$root/table")) + dirBytes(new java.io.File(s"$root/outA"))),
        "files" -> (dirFiles(new java.io.File(s"$root/table")) + dirFiles(new java.io.File(s"$root/outA"))).toLong)
    }
  }

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else if (f.getName.endsWith(".parquet")) f.length else 0L
  private def dirFiles(f: java.io.File): Int =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirFiles).sum
    else if (f.getName.endsWith(".parquet")) 1 else 0

  /** Max |rank(estimate) − q| over p10/p50/p90, against the exact ranks. */
  private def rankErr(ref: DataFrame, sk: QuantileSketch): Double = {
    val xs = ref.select("v").collect().map(_.getDouble(0)).sorted
    Seq(0.1, 0.5, 0.9).map { q =>
      val est = sk.quantile(q)
      val rank = java.util.Arrays.binarySearch(xs, est) match {
        case k if k >= 0 => xs.lastIndexWhere(_ <= est) + 1
        case k => -k - 1
      }
      math.abs(rank.toDouble / xs.length - q)
    }.max
  }

  override def reference(ctx: Ctx): Map[String, Any] =
    Map("base" -> s"${dir(ctx)}/base.parquet", "sql_with" -> DocTable.sqlWith)

  override def layers(ctx: Ctx, traced: Seq[Map[String, Any]]): Map[String, Double] = {
    def st(n: String) = stepSeconds(traced, n)
    val windows = traced.map(_("steps").asInstanceOf[Map[String, Map[String, Any]]])
    def wv(step: String, k: String) = med(windows.flatMap(_.get(step)).map(_(k).toString.toDouble))
    val checks = Seq("Checks.duplicateKeys", "Checks.danglingRefs", "Checks.profile", "Checks.driftBins")
    val bucketS = traced.flatMap(_("bucket_s").asInstanceOf[Seq[Double]])
    val summaries = traced.map(_("summary").asInstanceOf[Map[String, Any]])
    val inBytes = dirBytes(new java.io.File(s"${dir(ctx)}/base.parquet")).toDouble
    Map("Checks.duplicateKeys_s" -> st("Checks.duplicateKeys"),
      "Checks.danglingRefs_s" -> st("Checks.danglingRefs"),
      "Checks.profile_s" -> st("Checks.profile"), "Checks.driftBins_s" -> st("Checks.driftBins"),
      "Checks.shuffle_mb" -> checks.map(c => wv(c, "shuffle_write_mb")).sum,
      "Checks.skew" -> wv("Checks.duplicateKeys", "skew"),
      "Sketches.build_s" -> st("TypedAggregators.sketchColumn"),
      "Sketches.rank_err" -> med(summaries.map(_("rank_err").asInstanceOf[Double])),
      "SnapshotTable.materialize_s" -> st("ParquetSnapshotTable.materialize"),
      "SnapshotTable.bucket_s_p50" -> med(bucketS),
      "SnapshotTable.bucket_s_max" -> (if (bucketS.isEmpty) 0.0 else bucketS.max),
      "SnapshotTable.jobs_per_bucket" -> wv("CheckpointedValidation.run", "jobs") / buckets,
      "SnapshotTable.write_amp" -> med(summaries.map(_("bytes_written").toString.toDouble)) / inBytes,
      "SnapshotTable.files" -> med(summaries.map(_("files").toString.toDouble)),
      "SnapshotTable.resume_s" -> med(summaries.map(_("resume_s").asInstanceOf[Double])))
  }
}

/** The SparkEntry curation queries the ROADMAP's carried perf items target. */
object Curate extends Workload {
  val name = "curate_queries"
  val queries = Seq("q_infer_drift", "q_chunk_dups", "q_dup_spans", "q_scrub_spans",
    "q_winnow_pairs", "q_dedup_components", "q_minhash_pairs")
  val docs = 600L
  val lineitems = 24000L
  def inputs(ctx: Ctx): Unit = Inputs.curate(ctx.spark, dir(ctx), ctx.variant, docs, lineitems)

  def pass(ctx: Ctx, i: Int): () => Map[String, Any] = {
    val results = queries.map { q =>
      val rows = ctx.step(s"SparkEntry.$q")(SparkEntry.queries(q)(ctx.spark, dir(ctx)).collect())
      Caches.releaseAll()
      q -> rows
    }
    () => Map("variant" -> ctx.variant,
      "fingerprints" -> results.map { case (q, rows) => q -> Fingerprint(rows) }.toMap)
  }

  override def layers(ctx: Ctx, traced: Seq[Map[String, Any]]): Map[String, Double] = {
    val windows = traced.map(_("steps").asInstanceOf[Map[String, Map[String, Any]]])
    queries.flatMap { q =>
      Seq(s"curate.${q}_s" -> stepSeconds(traced, s"SparkEntry.$q"),
        s"curate.${q}_jobs" -> med(windows.flatMap(_.get(s"SparkEntry.$q")).map(_("jobs").toString.toDouble)))
    }.toMap
  }
}

/** Order-free fingerprint of a query result: each row rendered with doubles
  * rounded to 6 decimals (as tools/precheck.py compares them), rows sorted,
  * then hashed. */
object Fingerprint {
  private def cell(v: Any): String = v match {
    case null => "None"
    case d: Double if d.isNaN => "NaN"
    case d: Double => val r = BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble
      if (r == 0.0) "0.0" else r.toString
    case f: Float => cell(f.toDouble)
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => s"${cell(k)}:${cell(x)}" }.sorted.mkString("<", ",", ">")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case x => x.toString
  }
  def apply(rows: Array[Row]): String = {
    val lines = rows.map(r => r.toSeq.map(cell).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    s"${rows.length}:" + md.digest().take(12).map("%02x".format(_)).mkString
  }
}
