package graftbench

import graft.operators.{Dedup, Ingest, InvertedIndex, VectorIndex}
import graftbench.Oracle.Hit
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Planted duplicates against dropped rows, for `dedup_*`. */
final case class DedupTally(planted: Int, dropped: Int, droppedPlanted: Int) {
  def +(o: DedupTally): DedupTally =
    DedupTally(planted + o.planted, dropped + o.dropped, droppedPlanted + o.droppedPlanted)
}

/** What a workload's set-ups and measurement produced. */
final class Results {
  /** Retrieval calls: every timed probe, checked. */
  val probes = new Ledger
  /** Timed writes: standing-index upserts (serve), stream batches (ingest-stream). */
  val batches = new Ledger
  /** Untimed checks: final row counts and the like. */
  var checks, checksFailed = 0
  val recalls = ArrayBuffer.empty[Double]
  var rowsPerS = 0.0
  /** The corpus dedup; each set-up replaces it, so a run scores one corpus. */
  var corpusDedup = DedupTally(0, 0, 0)
  /** Stream batches' dedup, in commit order. */
  val batchDedup = ArrayBuffer.empty[DedupTally]
  var storedBytesRatio = 0.0

  /** The corpus and the first [[Workloads.ScoredBatches]] stream batches:
    * a fixed set, so the score does not move with how many batches fit. */
  def dedup: DedupTally = batchDedup.take(Workloads.ScoredBatches).foldLeft(corpusDedup)(_ + _)

  def check(ok: Boolean, what: => String): Unit = {
    checks += 1
    if (!ok) { checksFailed += 1; System.err.println(s"[perfbench] check failed: $what") }
  }
  def attempted: Int = probes.attempted + batches.attempted + checks
  def failed: Int = probes.failed + batches.failed + checksFailed
}

final class Ctx(val spark: SparkSession, val gen: Gen, val work: String) {
  private var n = 0
  /** A fresh directory path under the run's work directory. */
  def fresh(name: String): String = { n += 1; s"$work/$name-$n" }
}

/** A workload: a set-up that is repeated to time it, and a closed-loop
  * measurement over the state the last set-up left. */
abstract class Workload(val ctx: Ctx) {
  type State
  def spark: SparkSession = ctx.spark
  def gen: Gen = ctx.gen
  def setup(tr: Tracing, res: Results): State
  /** Untimed: the driver-side answers the final state is checked with. */
  def prepare(s: State): Unit = ()
  /** Untimed calls that let caches fill and code compile. */
  def warmUp(s: State): Unit
  /** Runs the closed loop until `seconds` have passed. */
  def measure(s: State, tr: Tracing, seconds: Double, res: Results): Unit
  /** Untimed end-of-run checks on the final state. */
  def finish(s: State, res: Results): Unit
  /** Releases a set-up state that will not be measured. */
  def discard(s: State): Unit = ()
  /** The latencies `trace.overhead_frac` compares. */
  def primary(res: Results): Seq[Double] = res.probes.latencies
}

object Workloads {
  val Names: Seq[String] = Seq("serve", "ingest-stream")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "serve" => new Serve(ctx)
    case "ingest-stream" => new IngestStream(ctx)
  }

  val Dim = 384
  val K = 10
  /** Stream batches every measurement commits and `dedup_*` scores. */
  val ScoredBatches = 2

  def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** One round of probe kinds in seeded order. Runs measure whole
    * rounds, so every kind is sampled equally whatever the seed. */
  def probeRound(r: java.util.SplittableRandom, kinds: Int): Seq[Int] = {
    val a = Array.tabulate(kinds)(identity)
    for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toSeq
  }

  /** (id, values, metadata{source}) rows as the index takes them. */
  def vectorFrame(spark: SparkSession, rows: Seq[(String, Array[Float], String)]): DataFrame = {
    val schema = StructType(Seq(StructField("id", StringType),
      StructField("values", ArrayType(FloatType, containsNull = false)),
      StructField("metadata", StructType(Seq(StructField("source", StringType))))))
    spark.createDataFrame(rows.map { case (id, v, s) => Row(id, v.toSeq, Row(s)) }.asJava, schema)
  }

  def hits(rows: Array[Row], idCol: String = "id"): Seq[Hit] =
    rows.toSeq.map(r => Hit(r.getAs[Any](idCol).toString, r.getAs[Double]("score")))

  /** Bytes of every file under `dir`. */
  def dirBytes(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
  }

  def files(dir: String): Set[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Set.empty else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toSet finally s.close()
    }
  }

  /** Upsert timed as one write batch, with the files it added noted. */
  def timedUpsert(idx: VectorIndex, df: => DataFrame, tr: Tracing): Double = {
    val before = files(idx.path)
    val t0 = System.nanoTime()
    tr("vector_index.write", "upsert")(idx.upsert(df))
    val ms = (System.nanoTime() - t0) / 1e6
    tr.note("vector_index.write.files_per_commit", (files(idx.path) -- before).size.toDouble)
    ms
  }

  /** A document corpus with planted exact and near duplicates. Ids of
    * originals are 0 until n; every duplicate gets a larger id than its
    * original, so keep-first dedup drops exactly the planted set. */
  final case class Corpus(docs: Seq[(Long, String)], planted: Set[Long])

  def corpus(gen: Gen, stream: String, n: Int, minWords: Int, maxWords: Int,
      exactDups: Int, nearDups: Int): Corpus = {
    val r = gen.rng(stream)
    val z = new Zipf(4000, 1.07)
    val orig = (0 until n).map(i => i.toLong -> gen.prose(r, z, minWords + r.nextInt(maxWords - minWords + 1)))
    val dups = (0 until exactDups + nearDups).map { j =>
      val src = orig(r.nextInt(n))._2
      (n + j).toLong -> (if (j < exactDups) src else gen.perturb(r, z, src, 0.04))
    }
    val all = orig ++ dups
    all.foreach { case (_, t) => gen.record(t) }
    Corpus(all, dups.map(_._1).toSet)
  }

  /** Scores keep-first dedup survivors against the planted set. */
  def scoreDedup(all: Seq[Long], survivors: Set[Long], planted: Set[Long]): DedupTally = {
    val dropped = all.filterNot(survivors).toSet
    DedupTally(planted.size, dropped.size, dropped.count(planted))
  }

  def docFrame(spark: SparkSession, docs: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    docs.toDF("doc_id", "text")
  }

  /** Drops planted duplicates with MinHash and returns the survivors. */
  def dedupDocs(spark: SparkSession, c: Corpus, tr: Tracing, res: Results): Seq[(Long, String)] = {
    val kept = tr("dedup", "minhash")(
      Dedup.minhash(docFrame(spark, c.docs), "doc_id", "text").select("doc_id").collect())
      .map(_.getLong(0)).toSet
    res.corpusDedup = scoreDedup(c.docs.map(_._1), kept, c.planted)
    c.docs.filter(d => kept(d._1))
  }

  def approxCheck(got: Seq[Hit], q: Array[Float], rows: collection.Map[String, Array[Float]],
      res: Results, keep: String => Boolean = _ => true): Boolean = {
    val want = Oracle.topK(q, rows, K, keep)
    val ok = Oracle.wellFormed(got, q, rows, K) && got.length == want.length && got.forall(h => keep(h.id))
    if (ok) res.recalls += Oracle.recall(got, want)
    ok
  }

  /** Timed `spark.sql` whose analysis time is noted apart. */
  def sql(spark: SparkSession, tr: Tracing, path: String, text: String): Array[Row] =
    tr("sql", path) {
      val t0 = System.nanoTime()
      val df = spark.sql(text)
      tr.note("sql.analysis_ms", (System.nanoTime() - t0) / 1e6)
      df.collect()
    }
}


import Workloads._

/** Serving from standing state: a vector shard set whose first shard
  * doubles as the single index, and the matching postings shards. Nine
  * probe paths run in seeded order: five against the single indexes
  * (the scan-bound probes) and four that scatter over the set (the
  * fixed per-probe cost of scatter/gather and SQL analysis). */
final class Serve(ctx: Ctx) extends Workload(ctx) {
  val Shards = 2
  val PerShard = 1000
  val NDocs = 80
  val ProbePaths = 9
  // term buckets sized to ~40 documents per shard (the default 64 suits
  // corpora thousands of times larger)
  val TermBuckets = 8

  final class State(val idxs: Seq[VectorIndex], val ppaths: Seq[String], val kept: Seq[(Long, String)]) {
    var all: Map[String, Array[Float]] = Map.empty
    var single: Map[String, Array[Float]] = Map.empty
    var bm25All, bm25Single: Oracle.Bm25 = null
  }

  private val cs = gen.centroids("vectors", 64, Dim)
  private val queries = gen.vectorStream("queries", cs, 0.7)
  private val mix = gen.rng("mix")
  private val z = new Zipf(4000, 1.07)
  private val n = Shards * PerShard
  def shard(id: String): Int = id.toInt % Shards
  def source(id: String): String = "s" + (id.toInt / Shards % 4)

  def setup(tr: Tracing, res: Results): State = {
    val vs = gen.clustered("vectors", n, cs, 0.7)
    val rows = vs.indices.map(i => (i.toString, vs(i), source(i.toString)))
    val idxs = (0 until Shards).map { sh =>
      val idx = VectorIndex.ensure(spark, ctx.fresh(s"vshard$sh"), Dim)
      res.batches.run(timedUpsert(idx, vectorFrame(spark, rows.filter(r => shard(r._1) == sh)), tr))(_ => true)
      idx
    }
    res.check(VectorIndex.validateShards(spark, idxs.map(_.path)) == n, "vector shard census")
    val c = corpus(gen, "docs", NDocs, 80, 160, 10, 10)
    val kept = dedupDocs(spark, c, tr, res)
    val ppaths = (0 until Shards).map { sh =>
      val p = ctx.fresh(s"pshard$sh")
      InvertedIndex.writeIndex(docFrame(spark, kept.filter(_._1 % Shards == sh)), "doc_id", "text", p,
        buckets = TermBuckets)
      p
    }
    res.check(InvertedIndex.validateShards(spark, ppaths) == kept.length, "postings shard census")
    new State(idxs, ppaths, kept)
  }

  override def prepare(s: State): Unit = {
    val vs = gen.clustered("vectors", n, cs, 0.7)
    s.all = vs.indices.map(i => i.toString -> vs(i)).toMap
    s.single = s.all.filter(kv => shard(kv._1) == 0)
    s.bm25All = new Oracle.Bm25(s.kept)
    s.bm25Single = new Oracle.Bm25(s.kept.filter(_._1 % Shards == 0))
  }

  def warmUp(s: State): Unit = (0 until ProbePaths).foreach(probe(s, NoTrace, new Results, _))

  def measure(s: State, tr: Tracing, seconds: Double, res: Results): Unit = {
    // whole rounds, so every path is sampled equally
    val t0 = System.nanoTime()
    while ({ probeRound(mix, ProbePaths).foreach(probe(s, tr, res, _)); elapsed(t0) < seconds }) ()
  }

  private def queryFrame(qs: Seq[(String, Array[Float])]): DataFrame =
    spark.createDataFrame(qs.map { case (i, v) => Row(i, v.toSeq) }.asJava,
      StructType(Seq(StructField("qid", StringType), StructField("qv", ArrayType(FloatType, false)))))

  /** Checks a batched kNN answer query by query. */
  private def batchCheck(rows: Array[Row], qs: Seq[(String, Array[Float])],
      index: Map[String, Array[Float]], res: Results): Boolean = {
    val by = rows.groupBy(_.getAs[String]("query_id"))
    qs.forall { case (i, q) =>
      val got = by.getOrElse(i, Array.empty[Row]).sortBy(_.getAs[Int]("rank")).toSeq
        .map(r => Hit(r.getAs[String]("id"), r.getAs[Double]("score")))
      approxCheck(got, q, index, res)
    }
  }

  /** q270's one-statement hybrid computed from the generated inputs:
    * BM25 and exact kNN over the shard sets, fused by reciprocal rank. */
  private def hybridOracle(s: State, q: Array[Float], terms: Seq[String]): Seq[Long] = {
    val lex = s.bm25All.search(terms, 10000).map(h => (h.id.toLong, math.floor(h.score * 1e6).toLong))
      .sortBy { case (d, u) => (-u, d) }.take(50).map(_._1).zipWithIndex.toMap
    val vec = Oracle.topK(q, s.all, 50).sortBy(h => (-h.score, h.id.toLong))
      .map(_.id.toLong).zipWithIndex.toMap
    (lex.keySet ++ vec.keySet).toSeq.map { d =>
      d -> (lex.get(d).map(r => 1.0 / (61 + r)).getOrElse(0.0) +
        vec.get(d).map(r => 1.0 / (61 + r)).getOrElse(0.0))
    }.sortBy { case (d, rrf) => (-rrf, d) }.take(10).map(_._1)
  }

  private def probe(s: State, tr: Tracing, res: Results, path: Int): Unit = {
    val single = s.idxs.head
    path match {
      case 0 =>
        val q = queries.next()
        res.probes.run(hits(tr("vector_index.probe", "approx")(single.queryApprox(q, K).collect())))(
          approxCheck(_, q, s.single, res))
      case 1 =>
        val q = queries.next()
        val src = "s" + mix.nextInt(4)
        res.probes.run(hits(tr("vector_index.probe", "approx_filter")(
          single.queryApprox(q, K, filter = Some(col("metadata.source") === src)).collect())))(
          approxCheck(_, q, s.single, res, source(_) == src))
      case 2 =>
        val qs = (0 until 16).map(i => (i.toString, queries.next()))
        res.probes.run(tr("vector_index.probe", "knn_join")(
          single.knnJoin(queryFrame(qs), "qid", "qv", K).collect()))(batchCheck(_, qs, s.single, res))
      case 3 =>
        val q = queries.next()
        res.probes.run(hits(sql(spark, tr, "knn",
          s"SELECT id, score FROM graft_knn('${single.path}', '${q.mkString(",")}', $K)")))(got =>
          Oracle.sameRanking(got, Oracle.topK(q, s.single, K)))
      case 4 =>
        val terms = gen.terms(mix, z, 1 + mix.nextInt(3))
        res.probes.run(hits(tr("inverted_index.probe", "bm25")(
          InvertedIndex.bm25Search(spark, s.ppaths.head, terms, K).collect()), "doc"))(got =>
          Oracle.sameRanking(got, s.bm25Single.search(terms, K)))
      case 5 =>
        val q = queries.next()
        res.probes.run(hits(tr("scatter", "many_approx")(
          VectorIndex.queryManyApprox(s.idxs, q, K).collect())))(approxCheck(_, q, s.all, res))
      case 6 =>
        val qs = (0 until 16).map(i => (i.toString, queries.next()))
        res.probes.run(tr("scatter", "knn_join_sharded")(
          VectorIndex.knnJoinSharded(s.idxs, queryFrame(qs), "qid", "qv", K).collect()))(
          batchCheck(_, qs, s.all, res))
      case 7 =>
        val terms = gen.terms(mix, z, 1 + mix.nextInt(3))
        res.probes.run(hits(tr("scatter", "bm25_sharded")(
          InvertedIndex.bm25SearchSharded(spark, s.ppaths, terms, K).collect()), "doc"))(got =>
          Oracle.sameRanking(got, s.bm25All.search(terms, K)))
      case 8 =>
        val q = queries.next()
        val terms = gen.terms(mix, z, 1 + mix.nextInt(3))
        val text =
          s"""WITH lex AS (
             |  SELECT doc AS doc_id, ROW_NUMBER() OVER (ORDER BY score_u DESC, doc) AS r
             |  FROM (SELECT doc, CAST(FLOOR(score * 1000000.0) AS BIGINT) AS score_u
             |        FROM graft_bm25_sharded('${s.ppaths.mkString(";")}', '${terms.mkString(" ")}', 10000)
             |        ORDER BY score_u DESC, doc LIMIT 50)),
             |vec AS (
             |  SELECT CAST(id AS BIGINT) AS doc_id,
             |    ROW_NUMBER() OVER (ORDER BY score DESC, CAST(id AS BIGINT)) AS r
             |  FROM graft_knn_sharded('${s.idxs.map(_.path).mkString(";")}', '${q.mkString(",")}', 50))
             |SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
             |  COALESCE(CAST(1.0 AS DOUBLE) / CAST(60 + l.r AS DOUBLE), 0.0)
             |    + COALESCE(CAST(1.0 AS DOUBLE) / CAST(60 + v.r AS DOUBLE), 0.0) AS rrf
             |FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
             |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin
        res.probes.run(sql(spark, tr, "hybrid", text).map(_.getLong(0)).toSeq)(
          _ == hybridOracle(s, q, terms))
    }
  }

  def finish(s: State, res: Results): Unit = {
    res.check(s.idxs.map(_.scan().count()).sum == n, "shard row counts")
    res.storedBytesRatio = s.idxs.map(i => dirBytes(i.path)).sum.toDouble / (n.toLong * Dim * 4)
    res.rowsPerS = PerShard / (Stats.median(res.batches.latencies) / 1e3)
  }
}

/** Writes beside reads. Set-up is the reference pipeline at corpus
  * scale: seeded PDFs through extraction, MinHash dedup, chunk + embed
  * and an upsert into a fresh index. Then `StreamOps.vectorDedupIngest`
  * consumes one batch file per trigger into that index; after each
  * commit the loop probes the index and reads its own writes back. */
final class IngestStream(ctx: Ctx) extends Workload(ctx) {
  val NDocs = 60
  val MaxBatches = 6
  val Fresh = 100      // per batch; the first WithinDups get a near copy
  val WithinDups = 8
  val Resends = 12
  val NearDups = 12
  val ProbesPerBatch = 3
  val Threshold = 0.95
  val schema = StructType(Seq(StructField("id", StringType),
    StructField("values", ArrayType(FloatType, containsNull = false)),
    StructField("metadata", StructType(Seq(StructField("chunk_index", IntegerType),
      StructField("source", StringType))))))

  final class State(val idx: VectorIndex) {
    val committed = scala.collection.mutable.Map.empty[String, Array[Float]]
    var staging: Seq[String] = Nil
    var srcDir = ""
    var batchIds: Seq[Seq[String]] = Nil
    var batchRows: Seq[Map[String, Array[Float]]] = Nil
    var resends: Seq[Set[String]] = Nil
    var nearDups: Seq[Set[String]] = Nil
    var next = 0
    var query: org.apache.spark.sql.streaming.StreamingQuery = null
  }

  private val cs = gen.centroids("vectors", 64, Dim)
  private val queries = gen.vectorStream("queries", cs, 0.7)

  /** Writes the seeded PDFs, runs the reference pipeline over them into
    * a fresh index, stages the stream's batch files and starts the stream. */
  def setup(tr: Tracing, res: Results): State = {
    // lengths 150-900 words span the 2000-character chunk size
    val c = corpus(gen, "docs", NDocs, 150, 900, 6, 6)
    val dir = ctx.fresh("pdfs")
    Files.createDirectories(Paths.get(dir))
    c.docs.foreach { case (id, t) => Files.write(Paths.get(f"$dir/d$id%06d.pdf"), gen.pdf(t)) }
    val docs = tr("sources", "read_pdfs")(
      Ingest.readBinaryDocs(spark, dir, graft.sources.SimplePdfTextExtractor)
        .select(regexp_extract(col("doc_id"), "d(\\d+)\\.pdf$", 1).cast("long").as("doc_id"), col("text"))
        .localCheckpoint(eager = true))
    val kept = tr("dedup", "minhash")(Dedup.minhash(docs, "doc_id", "text").localCheckpoint(eager = true))
    val chunks = tr("ingest", "pipeline")(
      Ingest.pipeline(kept, new graft.core.HashingEmbedder(Dim),
        Ingest.Config(expectedDim = Some(Dim))).localCheckpoint(eager = true))
    val idx = VectorIndex.ensure(spark, ctx.fresh("vidx"), Dim)
    timedUpsert(idx, chunks.select("id", "values", "metadata"), tr)
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    res.corpusDedup = scoreDedup(c.docs.map(_._1), keptIds, c.planted)
    val st = new State(idx)
    val committed = idx.scan().select("id", "values").collect()
      .map(r => r.getString(0) -> r.getSeq[Float](1).toArray).toSeq
    val chunks0 = c.docs.filter(d => keptIds(d._1))
      .map(d => graft.core.Chunker.split(Gen.pdfText(d._2)).length).sum
    res.check(committed.length == chunks0, s"corpus index holds ${committed.length} chunks, expected $chunks0")
    stage(st, committed)
    st.query = graft.streaming.StreamOps.vectorDedupIngest(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(st.srcDir),
        idx.path, Dim, Threshold)
      .option("checkpointLocation", ctx.fresh("checkpoint"))
      .start()
    st
  }

  /** Batches: fresh rows, near copies of some of them (dropped within
    * the batch), and exact re-sends and near copies of committed rows
    * (dropped against the index). All staged as parquet in one job. */
  private def stage(st: State, committed: Seq[(String, Array[Float])]): Unit = {
    st.committed ++= committed
    val r = gen.rng("batches")
    val pool = committed.map(_._2).toIndexedSeq
    var nextId = 0
    def id(): String = { nextId += 1; f"s$nextId%07d" }
    val batches = (0 until MaxBatches).map { b =>
      val fresh = gen.clustered(s"fresh/$b", Fresh, cs, 0.7).toSeq.map(v => (id(), v))
      val within = fresh.take(WithinDups).map(f => (id(), gen.nearCopy(r, f._2)))
      val resend = (0 until Resends).map(_ => (id(), pool(r.nextInt(pool.length))))
      val near = (0 until NearDups).map(_ => (id(), gen.nearCopy(r, pool(r.nextInt(pool.length)))))
      (b, fresh ++ within ++ resend ++ near, resend.map(_._1).toSet, (within ++ near).map(_._1).toSet)
    }
    st.batchIds = batches.map(_._2.map(_._1))
    st.resends = batches.map(_._3)
    st.nearDups = batches.map(_._4)
    val root = ctx.fresh("staging")
    spark.createDataFrame(batches.flatMap { case (b, rows, _, _) =>
        rows.map { case (i, v) => Row(i, v.toSeq, Row(b, "stream"), b) } }.asJava,
        schema.add("batch", IntegerType))
      .repartition(col("batch")).write.partitionBy("batch").parquet(root)
    st.staging = (0 until MaxBatches).map { b =>
      val ls = Files.list(Paths.get(s"$root/batch=$b"))
      try ls.iterator().asScala.find(_.toString.endsWith(".parquet")).get.toString finally ls.close()
    }
    st.srcDir = ctx.fresh("source")
    Files.createDirectories(Paths.get(st.srcDir))
    st.batchRows = batches.map(_._2.toMap)
  }

  override def discard(s: State): Unit = s.query.stop()

  def warmUp(s: State): Unit = step(s, NoTrace, new Results)

  /** Moves the next batch file in, waits until it is committed, then
    * probes the index and reads the batch's ids back. */
  private def step(s: State, tr: Tracing, res: Results): Boolean = {
    if (s.next >= s.staging.length) return false
    val b = s.next
    s.next += 1
    val before = files(s.idx.path)
    res.batches.run(tr("streaming", "batch") {
      Files.move(Paths.get(s.staging(b)), Paths.get(f"${s.srcDir}/part-$b%05d.parquet"))
      s.query.processAllAvailable()
    })(_ => s.query.exception.isEmpty)
    tr.note("vector_index.write.files_per_commit", (files(s.idx.path) -- before).size.toDouble)
    val ids = s.batchIds(b)
    // fresh rows must all land and exact re-sends must all drop; a near
    // copy may land (the banded within-batch pass and the shortlist
    // probe may under-flag, by contract) and then counts as missed
    res.probes.run(tr("vector_index.probe", "fetch")(
      s.idx.fetch(ids).select("id").collect().map(_.getString(0)).toSet)) { got =>
      val planted = s.resends(b) ++ s.nearDups(b)
      val ok = ids.filterNot(planted).forall(got) && !got.exists(s.resends(b)) && got.forall(ids.contains)
      if (ok) {
        res.batchDedup += scoreDedup(ids.map(_.drop(1).toLong), got.map(_.drop(1).toLong),
          planted.map(_.drop(1).toLong))
        got.foreach(i => s.committed(i) = s.batchRows(b)(i))
      }
      ok
    }
    (0 until ProbesPerBatch).foreach { _ =>
      val q = queries.next()
      res.probes.run(hits(tr("vector_index.probe", "approx")(s.idx.queryApprox(q, K).collect())))(
        approxCheck(_, q, s.committed, res))
    }
    true
  }

  def measure(s: State, tr: Tracing, seconds: Double, res: Results): Unit = {
    val t0 = System.nanoTime()
    val rows0 = s.committed.size
    val done0 = res.batches.latencies.length
    // at least ScoredBatches, so the batch median never rests on one
    // sample and dedup_* always scores the same batches
    while ((elapsed(t0) < seconds || res.batches.latencies.length - done0 < ScoredBatches) &&
      step(s, tr, res)) ()
    res.rowsPerS = (s.committed.size - rows0) / (res.batches.latencies.drop(done0).sum / 1e3)
  }

  override def primary(res: Results): Seq[Double] = res.batches.latencies

  def finish(s: State, res: Results): Unit = {
    s.query.stop()
    res.check(s.query.exception.isEmpty, "stream terminated cleanly")
    val n = s.idx.scan().count()
    res.check(n == s.committed.size, s"index holds $n rows, expected ${s.committed.size}")
    res.storedBytesRatio = dirBytes(s.idx.path).toDouble / (n * Dim * 4)
  }
}
