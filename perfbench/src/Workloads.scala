package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.{StorageLevel, StorageShim}

import graft.{Main, Queries, SparkEntry}
import graft.cluster.Shaping
import graft.core.Model.Page
import graft.graph.{ConnectedComponents, PageRank}
import graft.ingest.{Dictionary, LinkExtract, PageSynth}
import graft.sources.AssignmentsSink

/** One engine call inside a pass. `ok` turns false when the call threw or
  * when its output later fails a check. */
final class Op(val name: String, val seconds: Double, var ok: Boolean, var note: String)

/** PageRank work done in a pass: the north-rule edges/sec inputs. */
final case class PrRun(directedEdges: Long, supersteps: Int, seconds: Double, stepSeconds: Seq[Double])

final class PassResult(val index: Int, val wall: Double, val ops: Seq[Op], val pr: Seq[PrRun])

/** A seeded workload: `prepare` makes the inputs (untimed), `pass` runs the
  * workload once through its sink, `verify` checks every recorded pass. */
abstract class Workload(val spark: SparkSession, val work: File, val seed: Long) {
  def name: String
  def prepare(): Unit
  def pass(tr: Tracer, index: Int, check: Boolean): PassResult
  def verify(passes: Seq[PassResult]): Unit
  /** Damages the written output of pass `p` (self-test of the checks). */
  def corrupt(p: PassResult): Unit = ()
  /** input sizes recorded with every result */
  val inputs = mutable.LinkedHashMap.empty[String, Long]

  protected def timed(tr: Tracer, ops: mutable.Buffer[Op], name: String, layer: String)
                     (body: => Unit): Unit = {
    val t0 = System.nanoTime()
    val ok = try { tr.span(name, layer)(body); "" } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    }
    ops += new Op(name, (System.nanoTime() - t0) / 1e9, ok.isEmpty, ok)
  }

  /** Every pass starts from the same storage state: engine caches, cached
    * plans, leftover superstep checkpoints and the blocks of RDDs the
    * previous pass dropped without unpersisting are released synchronously
    * before the pass clock starts. */
  protected def cleanSlate(): Unit = {
    Queries.clearCaches()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    StorageShim.dropRddBlocks()
  }

  protected def dirBytes(f: File): Long =
    if (f.isFile) f.length() else Option(f.listFiles).toSeq.flatten.map(dirBytes).sum

  /** Sink counters for the per-layer metrics: rows, bytes, part files. */
  protected def sunk(tr: Tracer, dir: File, rows: Long): Unit = {
    val parts = Option(dir.listFiles).toSeq.flatten.filter(_.getName.startsWith("part-"))
    tr.count("sink.rows", rows)
    tr.count("sink.bytes", parts.map(_.length).sum)
    tr.count("sink.files", parts.size)
  }

  /** Rewrites line `line` (1 = first data line) of the first part file
    * that has it. */
  protected def damage(dir: File, line: Int, f: String => String): Unit = {
    val part = Option(dir.listFiles).toSeq.flatten.filter(_.getName.startsWith("part-")).sortBy(_.getName)
      .find(p => Files.readAllLines(p.toPath, StandardCharsets.UTF_8).size > line).get
    val lines = Files.readAllLines(part.toPath, StandardCharsets.UTF_8)
    lines.set(line, f(lines.get(line)))
    Files.write(part.toPath, lines)
  }

  protected def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** Data lines of a header'd CSV directory written by AssignmentsSink, in
    * part-file order. */
  protected def csvRows(dir: File, sep: String): Seq[Array[String]] =
    Option(dir.listFiles).toSeq.flatten
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
      .flatMap(f => Files.readAllLines(f.toPath, StandardCharsets.UTF_8).toArray(Array.empty[String]).drop(1))
      .filter(_.nonEmpty).map(_.split(sep, -1))
}

object Workload {
  /** Order-insensitive (count, xor-of-row-hashes) fingerprint of an output,
    * observed on the same job that computes it. Doubles are rounded to 6
    * decimals, the oracle compare's precision. */
  def fingerprint(df: DataFrame, obs: Observation): DataFrame = {
    def canon(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => round(c.cast(DoubleType), 6)
      case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast(DoubleType), 6))
      case _: MapType => to_json(c)
      case _ => c
    }
    val cols = df.schema.fields.sortBy(_.name).map(f => canon(col(s"`${f.name}`"), f.dataType))
    df.observe(obs, count(lit(1)).as("n"),
      coalesce(bit_xor(xxhash64(cols.toIndexedSeq: _*)), lit(0L)).as("x"))
  }

  def obsValue(obs: Observation): (Long, Long) = {
    val m = obs.get
    (m("n").asInstanceOf[Long], m("x").asInstanceOf[Long])
  }
}

/** catalog: graft.Bench rows on the small catalog tables, which run.py
  * rewrites per seed in a seeded row and file order. Each pass clears the
  * engine's caches; outputs go to the noop sink. The check pass runs the
  * same plans but writes every row's result as parquet for the DuckDB
  * oracle compare; its north-rule reference check runs after its clock. */
final class Catalog(spark: SparkSession, work: File, seed: Long, dirFile: File)
    extends Workload(spark, work, seed) {
  val name = "catalog"

  /** (query, layer). q_pagerank_full is graft.Bench's north-rule run:
    * PageRank to convergence on the full co-occurrence graph. */
  val Rows: Seq[(String, String)] = Seq(
    "q_edges_build" -> "ingest", "q_cc" -> "graph", "q_cluster_shape" -> "tail",
    "q_triangles" -> "graph", "q_minhash_pairs" -> "doc", "q_text_quality" -> "doc",
    "q_sessions" -> "doc")
  val NorthRule = "q_pagerank_full"

  private val dir = dirFile.getAbsolutePath
  private val checkDir = new File(work, s"catalog/check-$seed") // run.py reads it
  // fingerprint of each op in the check pass; timed ops must match it
  private val expected = mutable.Map.empty[String, (Long, Long)]
  private val observed = mutable.Map.empty[(Int, String), Observation]

  def prepare(): Unit = inputs("bytes") = dirBytes(dirFile)

  def pass(tr: Tracer, index: Int, check: Boolean): PassResult = {
    cleanSlate()
    val ops = mutable.ArrayBuffer.empty[Op]
    val prs = mutable.ArrayBuffer.empty[PrRun]
    var northRule: Option[(DataFrame, PageRank.Result)] = None
    val t0 = System.nanoTime()
    tr.span(s"pass.$index", "pass") {
      Rows.foreach { case (q, layer) =>
        val obs = new Observation(s"$q-$index")
        observed((index, q)) = obs
        timed(tr, ops, s"op.$q", layer) {
          val df = Workload.fingerprint(SparkEntry.queries(q)(spark, dir), obs)
          if (check) df.write.mode("overwrite").parquet(new File(checkDir, q).getAbsolutePath)
          else df.write.mode("overwrite").format("noop").save()
        }
      }
      val obs = new Observation(s"$NorthRule-$index")
      observed((index, NorthRule)) = obs
      timed(tr, ops, s"op.$NorthRule", "graph") {
        // like graft.Bench: the edge table is materialized before the clock
        // of the PageRank itself starts
        val bi = Queries.edgesAll(spark, dir).select("src", "dst").persist(StorageLevel.MEMORY_AND_DISK)
        val nDirected = bi.count() * 2
        tr.count("ingest.edges_out", nDirected / 2)
        val p0 = System.nanoTime()
        val pr = PageRank.runUndirected(spark, bi, tol = 1e-6, maxIter = 25)
        Workload.fingerprint(pr.ranks, obs).write.mode("overwrite").format("noop").save()
        prs += PrRun(nDirected, pr.iterations, (System.nanoTime() - p0) / 1e9, pr.stepSeconds)
        if (check) northRule = Some(bi -> pr) else bi.unpersist(blocking = false)
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    northRule.foreach { case (bi, pr) => northRuleCheck(bi, pr); bi.unpersist(blocking = false) }
    if (check) ops.foreach { o =>
      val q = o.name.stripPrefix("op.")
      if (o.ok) expected(q) = Workload.obsValue(observed((index, q)))
    }
    new PassResult(index, wall, ops.toSeq, prs.toSeq)
  }

  private var northRuleNote = ""

  private def northRuleCheck(bi: DataFrame, pr: PageRank.Result): Unit = {
    val es = bi.collect().map(r => (r.getLong(0), r.getLong(1)))
    val sym = es ++ es.map(_.swap)
    val (ref, delta) = Reference.pageRank(sym, pr.iterations)
    val got = pr.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    if (!pr.converged || delta >= 1e-6) northRuleNote = s"not converged after ${pr.iterations}"
    else if (got.keySet != ref.keySet) northRuleNote = "vertex set differs from reference"
    else {
      val bad = ref.count { case (v, r) => !Reference.allClose(got(v), r, 1e-6) }
      if (bad > 0) northRuleNote = s"$bad ranks differ from the reference"
    }
  }

  def verify(passes: Seq[PassResult]): Unit = {
    passes.head.ops.find(_.name == s"op.$NorthRule").foreach { o =>
      if (northRuleNote.nonEmpty) { o.ok = false; o.note = northRuleNote }
    }
    passes.tail.foreach { p =>
      p.ops.filter(_.ok).foreach { o =>
        val q = o.name.stripPrefix("op.")
        val got = Workload.obsValue(observed((p.index, q)))
        expected.get(q) match {
          case None => o.ok = false; o.note = "check pass of this row failed"
          case Some(e) if e != got => o.ok = false; o.note = s"fingerprint $got differs from check pass $e"
          case _ =>
        }
      }
    }
  }
}

/** web_links: PageSynth pages as parquet → href extraction → dictionary
  * encoding → PageRank to 1e-6 → connected components → size renumbering →
  * assignments and ranks written as TSV. The corpus is PageSynth's default
  * one; the seed picks the page order and the split into files, so every
  * seed does the same work (a generator seed would change the superstep
  * count, 20 to 33 on 15k pages). */
final class WebLinks(spark: SparkSession, work: File, seed: Long)
    extends Workload(spark, work, seed) {
  private val corpus = 42L
  private val nPages = 10000
  val name = "web_links"
  private val pagesDir = new File(work, s"web_links/seed=$seed/pages.parquet").getAbsolutePath
  private val outRoot = new File(work, s"web_links/out-$seed")
  private var edgeNote = ""
  private val prRuns = mutable.Map.empty[Int, (Int, Boolean)] // pass -> (iterations, converged)
  private lazy val refEdges: Array[(Long, Long)] = PageSynth.edgeList(corpus, nPages).toArray

  def prepare(): Unit = {
    PageSynth.pages(spark, nPages, corpus, numPartitions = 4).toDF()
      .withColumn("_k", xxhash64(col("url"), lit(seed)))
      .repartitionByRange(4, col("_k")).sortWithinPartitions("_k").drop("_k")
      .write.mode("overwrite").parquet(pagesDir)
    inputs("pages") = nPages
    inputs("edges") = refEdges.length
    inputs("bytes") = dirBytes(new File(pagesDir))
  }

  def pass(tr: Tracer, index: Int, check: Boolean): PassResult = {
    import spark.implicits._
    val ops = mutable.ArrayBuffer.empty[Op]
    val prs = mutable.ArrayBuffer.empty[PrRun]
    val out = new File(outRoot, s"pass-$index")
    val held = mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { held += df; df.persist(StorageLevel.MEMORY_AND_DISK) }
    var links, dict, enc, pr, cc, shaped, ranks: DataFrame = null
    var prRes: PageRank.Result = null
    cleanSlate()
    val t0 = System.nanoTime()
    tr.span(s"pass.$index", "pass") {
      timed(tr, ops, "ingest.extract", "ingest") {
        val pages = spark.read.parquet(pagesDir).as[Page]
        links = keep(LinkExtract.edges(pages))
        links.count()
      }
      timed(tr, ops, "ingest.dict", "ingest") {
        dict = keep(Dictionary.buildSorted(
          links.select(col("src").as("u")).union(links.select(col("dst").as("u"))), "u"))
        enc = keep(Dictionary.encodeEdges(links, dict))
        tr.count("ingest.edges_out", enc.count())
      }
      timed(tr, ops, "graph.pagerank", "graph") {
        val nE = enc.count()
        val p0 = System.nanoTime()
        prRes = PageRank.run(spark, enc.select("src", "dst"), tol = 1e-6, maxIter = 100)
        prs += PrRun(nE, prRes.iterations, (System.nanoTime() - p0) / 1e9, prRes.stepSeconds)
        prRuns(index) = (prRes.iterations, prRes.converged)
        pr = prRes.ranks
      }
      timed(tr, ops, "graph.cc", "graph") {
        cc = ConnectedComponents.run(spark, enc.select("src", "dst"))
      }
      timed(tr, ops, "tail.shape", "tail") {
        shaped = keep(Shaping.renumberBySize(
          Dictionary.decode(cc.select(col("vertex"), col("component").as("cluster")), dict))
          .select(col("object"), col("cluster")))
        ranks = keep(Dictionary.decode(pr, dict).select(col("object"), col("rank")))
        shaped.count(); ranks.count()
      }
      timed(tr, ops, "sink.write", "sink") {
        AssignmentsSink.write(shaped, new File(out, "assignments").getAbsolutePath)
        AssignmentsSink.write(ranks, new File(out, "ranks").getAbsolutePath)
      }
      if (shaped != null && ranks != null) {
        sunk(tr, new File(out, "assignments"), shaped.count())
        sunk(tr, new File(out, "ranks"), ranks.count())
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    if (check && links != null) edgeCheck(links)
    held.foreach(_.unpersist(blocking = false))
    new PassResult(index, wall, ops.toSeq, prs.toSeq)
  }

  /** The extracted edge set must equal the generator's edge list. */
  private def edgeCheck(links: DataFrame): Unit = {
    val got = links.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val want = refEdges.map { case (s, d) => (PageSynth.url(s), PageSynth.url(d)) }.toSet
    if (got.exists(_._3 != 1.0)) edgeNote = "edge weight differs from 1"
    else if (got.length != want.size || got.map(e => (e._1, e._2)).toSet != want)
      edgeNote = s"extracted ${got.length} edges, generator has ${want.size}"
  }

  private lazy val refAssign: Map[String, Long] = {
    val urls = refEdges.map { case (s, d) => (PageSynth.url(s), PageSynth.url(d)) }
    Reference.renumbered(Reference.components(urls.toSeq))
  }
  // iterations -> reference ranks and the max-abs delta of its last superstep
  private val refRanks = mutable.Map.empty[Int, (Map[String, Double], Double)]

  override def corrupt(p: PassResult): Unit =
    damage(new File(outRoot, s"pass-${p.index}/assignments"), 1, l => l.split("\t")(0) + "\t999999")

  def verify(passes: Seq[PassResult]): Unit = {
    passes.head.ops.find(_.name == "ingest.extract").foreach { o =>
      if (edgeNote.nonEmpty) { o.ok = false; o.note = edgeNote }
    }
    passes.foreach { p =>
      val out = new File(outRoot, s"pass-${p.index}")
      def fail(op: String, note: String): Unit =
        p.ops.find(o => o.name == op && o.ok).foreach { o => o.ok = false; o.note = note }
      if (p.ops.forall(_.ok)) {
        val assign = csvRows(new File(out, "assignments"), "\t").map(a => a(0) -> a(1).toLong).toMap
        if (assign != refAssign) fail("graph.cc", s"assignment differs from reference (${assign.size} vs ${refAssign.size} rows)")
        val (iters, converged) = prRuns(p.index)
        val (ref, delta) = refRanks.getOrElseUpdate(iters, {
          val (r, d) = Reference.pageRank(refEdges, iters)
          (r.map { case (v, x) => PageSynth.url(v) -> x }, d)
        })
        val got = csvRows(new File(out, "ranks"), "\t").map(a => a(0) -> a(1).toDouble).toMap
        if (!converged || delta >= 1e-6) fail("graph.pagerank", s"not converged after $iters")
        else if (got.keySet != ref.keySet) fail("graph.pagerank", "ranked vertex set differs from reference")
        else {
          val bad = ref.count { case (u, r) => !Reference.allClose(got(u), r, 1e-6) }
          if (bad > 0) fail("graph.pagerank", s"$bad ranks differ from the reference")
        }
      }
      deleteTree(out)
    }
  }
}

/** clusty_cli: a seeded clusty distances TSV with planted clusters, run
  * through Main.parse → Main.execute → AssignmentsSink for four algorithms. */
final class ClustyCli(spark: SparkSession, work: File, seed: Long)
    extends Workload(spark, work, seed) {
  val name = "clusty_cli"
  private val nClusters = 2000
  val Algos: Seq[(String, String)] =
    Seq("single" -> "graph", "set-cover" -> "tail", "cd-hit" -> "tail", "leiden" -> "graph")
  private val inDir = new File(work, s"clusty_cli/seed=$seed")
  private val tsv = new File(inDir, "distances.tsv").getAbsolutePath
  private val objectsFile = new File(inDir, "objects.txt").getAbsolutePath
  private val outRoot = new File(work, s"clusty_cli/out-$seed")
  /** expected output rows (object, representative) in file order */
  private var expectedRows: Seq[(String, String)] = Nil
  private var objectName: Array[String] = Array.empty
  val MinSim = 0.5
  val MinCov = 0.4

  /** Clusters of 1–12 objects. Members of a cluster are all linked with
    * similarity >= MinSim and coverage >= MinCov; links between clusters fail
    * one of the two filters, so every algorithm must return the planted
    * clusters. Names and the objects-file order are seeded shuffles. */
  def prepare(): Unit = {
    val rnd = new Random(seed)
    val sizes = Array.fill(nClusters)(1 + rnd.nextInt(12))
    val n = sizes.sum
    val perm = rnd.shuffle((0 until n).toVector)
    objectName = Array.tabulate(n)(i => f"seq_${perm(i)}%07d")
    val rankOrder = rnd.shuffle((0 until n).toVector)
    val rank = new Array[Int](n)
    rankOrder.zipWithIndex.foreach { case (o, r) => rank(o) = r }
    val clusterOf = new Array[Int](n)
    var next = 0
    val members = sizes.zipWithIndex.map { case (m, c) =>
      val ids = next until next + m; next += m; ids.foreach(clusterOf(_) = c); ids
    }
    val lines = mutable.ArrayBuffer.empty[String]
    def emit(a: Int, b: Int, sim: Double, cov: Double): Unit = {
      val (x, y) = if (rnd.nextBoolean()) (a, b) else (b, a)
      lines += f"${objectName(x)}\t${objectName(y)}\t$sim%.4f\t$cov%.3f"
    }
    members.foreach { ids =>
      for (i <- ids; j <- ids if i < j)
        emit(i, j, MinSim + 0.01 + rnd.nextDouble() * 0.48, MinCov + 0.01 + rnd.nextDouble() * 0.5)
    }
    // noise between clusters: each fails exactly one filter
    (0 until n).foreach { a =>
      (0 until 2).foreach { _ =>
        val b = rnd.nextInt(n)
        if (clusterOf(a) != clusterOf(b)) {
          if (rnd.nextBoolean()) emit(a, b, rnd.nextDouble() * (MinSim - 0.01), rnd.nextDouble())
          else emit(a, b, MinSim + rnd.nextDouble() * 0.49, rnd.nextDouble() * (MinCov - 0.01))
        }
      }
    }
    inDir.mkdirs()
    val shuffled = rnd.shuffle(lines)
    val w = new PrintWriter(tsv, "UTF-8")
    try { w.println("query\ttarget\tsim\tcov"); shuffled.foreach(w.println) } finally w.close()
    val wo = new PrintWriter(objectsFile, "UTF-8")
    try { wo.println("object"); rankOrder.foreach(o => wo.println(objectName(o))) } finally wo.close()

    // expected file: clusters by (size desc, best rank asc), then universe
    // singletons in rank order; rows inside a cluster by rank; the
    // representative is the cluster's best-ranked member
    val (multi, single) = members.map(_.sortBy(rank(_))).partition(_.size > 1)
    val ordered = multi.sortBy(m => (-m.size, rank(m.head))) ++ single.sortBy(m => rank(m.head))
    expectedRows = ordered.toSeq.flatMap(m => m.map(o => objectName(o) -> objectName(m.head)))
    inputs("objects") = n
    inputs("clusters") = nClusters
    inputs("edges") = lines.size
    inputs("bytes") = new File(tsv).length() + new File(objectsFile).length()
  }

  def pass(tr: Tracer, index: Int, check: Boolean): PassResult = {
    val ops = mutable.ArrayBuffer.empty[Op]
    val out = new File(outRoot, s"pass-$index")
    cleanSlate()
    val t0 = System.nanoTime()
    tr.span(s"pass.$index", "pass") {
      Algos.foreach { case (algo, layer) =>
        val path = new File(out, algo).getAbsolutePath
        timed(tr, ops, s"op.cli_$algo", "op") {
          val cfg = Main.parse(Seq("--algo", algo, "--similarity", "--min", "sim", MinSim.toString,
            "--min", "cov", MinCov.toString, "--objects-file", objectsFile,
            "--out-representatives", tsv, path))
          val res = tr.span("cli.execute", layer)(Main.execute(spark, cfg))
            .persist(StorageLevel.MEMORY_AND_DISK)
          val rows = tr.span("tail.shape", "tail")(res.count())
          tr.span("sink.write", "sink")(
            AssignmentsSink.writeWithRepresentatives(res, path, "\t", singleFile = true))
          sunk(tr, new File(path), rows)
          res.unpersist(blocking = false)
        }
      }
    }
    new PassResult(index, (System.nanoTime() - t0) / 1e9, ops.toSeq, Nil)
  }

  override def corrupt(p: PassResult): Unit = {
    // move the second output row to a cluster of its own
    damage(new File(outRoot, s"pass-${p.index}/single"), 2, l => l.split("\t")(0) + "\t" + l.split("\t")(0))
  }

  def verify(passes: Seq[PassResult]): Unit = passes.foreach { p =>
    val out = new File(outRoot, s"pass-${p.index}")
    p.ops.filter(_.ok).foreach { o =>
      val algo = o.name.stripPrefix("op.cli_")
      val got = csvRows(new File(out, algo), "\t").map(a => a(0) -> a(1))
      if (got != expectedRows) {
        val firstBad = got.zip(expectedRows).indexWhere { case (a, b) => a != b }
        o.ok = false
        o.note = s"output differs from the planted assignment (${got.size} vs ${expectedRows.size} rows, first difference at row $firstBad)"
      }
    }
    deleteTree(out)
  }
}
