package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.etl.{AnnIndex, MinHashSegments, NearDup, PqIndex, PqSegments,
  SegmentOps, SparseIndex, SparseSegments}
import graft.streaming.{SegmentIngest, SparseServeStream}

/** index_lifecycle: nightly O(delta) maintenance of the three persisted
  * index families (Sparse BM25, IVF-PQ, MinHash) on the LSM segment
  * layer. Each night deletes (the night's deletes and the revised
  * ids), appends a shard (new documents and the revised content)
  * through `SegmentIngest.once`, reads the night's `changesBetween`
  * window, runs `tieredMaintain` (plus `compactInPlace` when
  * `SegmentOps.shouldCompact` fires, then `vacuum`), and serves the
  * night's query batch from the live read. Every operation touches all
  * three families; one operation of each type is one latency sample.
  *
  * Set-up opens the base layouts and serves one query batch from them
  * (the warm-up) before the first timed night. */
final class IndexLifecycle(cache: String) extends Workload {
  private val codecs = Seq("sparse", "pq", "minhash")
  private var roots = Map.empty[String, String]
  private var corpus = ""
  private var night = 0
  private var batch = 0L
  /** Live doc id -> the file holding its current content. */
  private val live = mutable.HashMap.empty[Long, String]
  /** Every file seen under the layout roots. */
  private val seen = mutable.HashSet.empty[String]
  private val written = mutable.HashMap.empty[String, Long]
    .withDefaultValue(0L)
  private var deltaBytes = 0L
  private var lastQueries = ""

  import IndexLifecycle.{docs, vecs}

  private def load(ctx: Ctx, path: String): DataFrame =
    IndexLifecycle.load(ctx.spark, path)
  private def ids(ctx: Ctx, xs: Seq[Long], name: String): DataFrame = {
    import ctx.spark.implicits._
    xs.toDF(name)
  }

  private def script(ctx: Ctx) =
    ctx.expected.get("corpus").get("nights")
  private def nightIds(ctx: Ctx, n: Int, kind: String): Seq[Long] =
    script(ctx).get(n).get(kind).elements().asScala.map(_.asLong).toSeq
  private def nightDir(n: Int) = f"$corpus/night=$n%03d"

  /** Bytes of the files added under the layout roots since the last
    * call (counted as the sources layer's writes while tracing). */
  private def newBytes(ctx: Ctx): Long = {
    var added = 0L
    var files = 0L
    roots.values.foreach { r =>
      java.nio.file.Files.walk(new File(r).toPath).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p)).foreach { p =>
          if (seen.add(p.toString)) {
            added += java.nio.file.Files.size(p)
            files += 1
          }
        }
    }
    if (ctx.tracer.recording) {
      ctx.rec.add("sources.files_written", files)
      ctx.rec.add("sources.mb_written", added / 1e6)
    }
    added
  }

  private def treeBytes(root: String): Long =
    java.nio.file.Files.walk(new File(root).toPath).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .map(p => java.nio.file.Files.size(p)).sum

  private def version(ctx: Ctx, root: String): Int =
    SegmentOps.resolveSnapshot(ctx.spark, root).version

  /** One operation over the families; returns its wall ms. */
  private def op(ctx: Ctx, kind: String, families: Seq[String] = codecs)
      (body: String => Unit): Double = {
    val t = ctx.tracer
    val (_, ms) = ctx.timed {
      t.op(s"index.$kind") {
        families.foreach(c => t.span(s"etl.segments.$c.$kind")(body(c)))
      }
    }
    written(kind) += newBytes(ctx)
    System.err.println(f"[perfbench] index.$kind%s $ms%.0f ms")
    ms
  }

  private def append(ctx: Ctx, paths: Seq[String]): Double = {
    val delta = paths.map(load(ctx, _)).reduce(_ unionByName _)
    val ms = op(ctx, "append") { c =>
      val root = roots(c)
      ctx.tracer.span("streaming.ingest") {
        SegmentIngest.once(ctx.spark, root, batch) { tag =>
          ctx.tracer.span("streaming.ingest.body") {
            c match {
              case "sparse" => SparseSegments.appendSeg(ctx.spark, root,
                SparseIndex.termFreqs(docs(delta)), Some(tag))
              case "pq" => PqSegments.appendSeg(ctx.spark, root,
                vecs(delta), Some(tag))
              case "minhash" => MinHashSegments.appendSeg(ctx.spark, root,
                docs(delta), tag = Some(tag))
            }
          }
        }
      }
    }
    batch += 1
    paths.foreach { p =>
      deltaBytes += new File(p).length()
      load(ctx, p).select("doc_id").collect()
        .foreach(r => live(r.getLong(0)) = p)
    }
    ms
  }

  private def delete(ctx: Ctx, xs: Seq[Long]): Double = {
    val ms = op(ctx, "delete") { c =>
      val root = roots(c)
      c match {
        case "sparse" => SparseSegments.deleteSeg(ctx.spark, root,
          ids(ctx, xs, "doc_id"))
        case "pq" => PqSegments.deleteSeg(ctx.spark, root,
          ids(ctx, xs, "vec_id"))
        case "minhash" => MinHashSegments.deleteSeg(ctx.spark, root,
          ids(ctx, xs, "doc_id"))
      }
    }
    deltaBytes += 8L * xs.size
    xs.foreach(live.remove)
    ms
  }

  private def maintain(ctx: Ctx): Double = op(ctx, "maintain") { c =>
    val root = roots(c)
    c match {
      case "sparse" => SparseSegments.tieredMaintain(ctx.spark, root)
      case "pq" => PqSegments.tieredMaintain(ctx.spark, root)
      case "minhash" => MinHashSegments.tieredMaintain(ctx.spark, root)
    }
    if (SegmentOps.shouldCompact(ctx.spark, root, SegmentOps.DefaultMaxSegs))
      c match {
        case "sparse" => SparseSegments.compactInPlace(ctx.spark, root)
        case "pq" => PqSegments.compactInPlace(ctx.spark, root)
        case "minhash" => MinHashSegments.compactInPlace(ctx.spark, root)
      }
    SegmentOps.vacuum(ctx.spark, root, keepLast = 2)
  }

  /** The night's CDC window per family, checked against the script. */
  private def cdc(ctx: Ctx, n: Int, from: Map[String, Int]): (Double, Boolean) = {
    val got = mutable.HashMap.empty[String, Set[(Long, String)]]
    val to = roots.map { case (c, r) => c -> version(ctx, r) }
    val ms = op(ctx, "cdc") { c =>
      val df = c match {
        case "sparse" => SparseSegments.changesBetween(ctx.spark, roots(c),
          from(c), to(c))
        case "pq" => PqSegments.changesBetween(ctx.spark, roots(c),
          from(c), to(c))
        case "minhash" => MinHashSegments.changesBetween(ctx.spark,
          roots(c), from(c), to(c))
      }
      got(c) = df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    }
    val want = nightIds(ctx, n, "append").map(_ -> "added") ++
      nightIds(ctx, n, "delete").map(_ -> "removed") ++
      nightIds(ctx, n, "revise").map(_ -> "updated")
    val ok = codecs.map { c =>
      val g = got(c)
      // a PQ revise whose quantized codes come out identical is, by the
      // family's state-diff contract, no change; accept exactly those
      val missing = want.toSet -- g
      val pqSame = c == "pq" && missing.nonEmpty &&
        missing.forall(_._2 == "updated") &&
        samePqCodes(ctx, missing.map(_._1), from(c), to(c))
      ctx.rec.check(s"cdc $c night $n",
        (g -- want).isEmpty && (missing.isEmpty || pqSame),
        s"extra ${(g -- want).take(5)} missing ${missing.take(5)}")
    }.forall(identity)
    (ms, ok)
  }

  private def samePqCodes(ctx: Ctx, xs: Set[Long], a: Int, b: Int): Boolean = {
    def codes(v: Int) = PqSegments.readAt(ctx.spark, roots("pq"), v).codes
      .join(ids(ctx, xs.toSeq, "vec_id"), "vec_id").collect()
      .map(_.toSeq).toSet
    codes(a) == codes(b)
  }

  /** Each family's live read of its layout under `roots`. */
  private def liveIndex(ctx: Ctx)(c: String): Any = c match {
    case "sparse" => SparseSegments.read(ctx.spark, roots(c))
    case "pq" => PqSegments.read(ctx.spark, roots(c))
    case "minhash" => MinHashSegments.read(ctx.spark, roots(c))
  }

  /** The night's query batch, served by each family from the index
    * `open` gives it (the live read, or a from-scratch build). */
  private def serveAll(ctx: Ctx, path: String, open: String => Any,
      families: Seq[String] = codecs)
      : (Double, Map[String, Set[Seq[Any]]]) = {
    val q = load(ctx, path).withColumnRenamed("doc_id", "q_id")
    val out = mutable.HashMap.empty[String, Set[Seq[Any]]]
    val t = ctx.tracer
    val ms = op(ctx, "serve", families) { c =>
      val index = t.span("etl.segments.read")(open(c))
      val rows = c match {
        case "sparse" =>
          val ix = index.asInstanceOf[SparseIndex.Index]
          t.span("streaming.serve") {
            SparseIndex.serve(SparseServeStream.queryTerms(
              q.select("q_id", "text")), ix).collect()
          }
        case "pq" =>
          val ix = index.asInstanceOf[PqIndex.Index]
          t.span("streaming.serve") {
            PqIndex.serve(AnnIndex.prep(q.select(col("q_id").as("vec_id"),
              col("embedding"))).withColumnRenamed("vec_id", "q_id"), ix)
              .collect()
          }
        case "minhash" =>
          val sigs = index.asInstanceOf[DataFrame]
          t.span("streaming.serve") {
            // near-duplicate probe: LSH band candidates between the
            // batch and the index, verified by signature agreement
            val all = sigs.unionByName(NearDup.signatures(
              q.select(col("q_id").as("doc_id"), col("text"))))
            val cand = NearDup.candidates(all).filter(
              col("doc_a") < QueryIdBase && col("doc_b") >= QueryIdBase)
            val scored = NearDup.agreementOf(all, cand).collect()
            val hits = scored.filter(
              _.getLong(2) >= NearDup.DefaultConfig.minSig)
            if (t.recording) {
              ctx.rec.add("minhash_candidates", scored.length)
              ctx.rec.add("minhash_hits", hits.length)
            }
            hits
          }
      }
      out(c) = rows.map(_.toSeq).toSet
    }
    (ms, out.toMap)
  }

  private val QueryIdBase = 1000000000L
  private var lastServed = Map.empty[String, Set[Seq[Any]]]

  /** One night. A revise is a delete then a re-append of new content:
    * the revised ids ride the night's delete and append operations. */
  private def runNight(ctx: Ctx): Unit = {
    val n = night
    night += 1
    val dir = nightDir(n)
    val from = roots.map { case (c, r) => c -> version(ctx, r) }
    ctx.tracer.startUnit()
    val delete_ = delete(ctx, nightIds(ctx, n, "delete") ++
      nightIds(ctx, n, "revise"))
    val append_ = append(ctx, Seq(s"$dir/append.parquet",
      s"$dir/revise.parquet"))
    val (cdcMs, cdcOk) = cdc(ctx, n, from)
    val maintain_ = maintain(ctx)
    val (serveMs, served) = serveAll(ctx, s"$dir/queries.parquet",
      liveIndex(ctx))
    lastQueries = s"$dir/queries.parquet"
    lastServed = served
    Seq("append_ms" -> append_, "delete_ms" -> delete_, "cdc_ms" -> cdcMs,
      "maintain_ms" -> maintain_, "serve_ms" -> serveMs).foreach {
      case (k, ms) => ctx.rec.sample(k, ms)
    }
    ctx.rec.sample("nightly_ms", append_ + delete_ + cdcMs + maintain_)
    ctx.rec.sample("read_ms", serveMs)
    Seq(true, true, cdcOk, true, true).foreach(ctx.rec.op)
  }

  /** The base layouts, copied from `cache` (built beforehand by
    * [[IndexLifecycle.buildBase]]) the way a nightly job opens
    * yesterday's index; then one warm-up serve. */
  def setup(ctx: Ctx): Unit = {
    corpus = s"${ctx.inputs}/corpus"
    roots = codecs.map(c => c -> ctx.fresh(s"layout_$c")).toMap
    require(new File(cache, ".done").exists(), s"no base layouts in $cache")
    roots.foreach { case (c, r) =>
      IndexLifecycle.copyTree(new File(cache, c), new File(r)) }
    val n = ctx.expected.get("corpus").get("base_docs").asLong
    (1L to n).foreach(live(_) = s"$corpus/base.parquet")
    newBytes(ctx)
    // warm-up: serve the first night's queries from the opened layouts,
    // so the timed night does not pay the process's first jobs (a
    // scan-only warm-up leaves night and serve ~25% apart run to run)
    serveAll(ctx, s"${nightDir(0)}/queries.parquet", liveIndex(ctx))
  }

  def measure(ctx: Ctx, deadlineNs: Long): Unit = {
    val nights = script(ctx).size
    while ((night < 1 || System.nanoTime() < deadlineNs) && night < nights)
      runNight(ctx)
  }

  def verify(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    // the surviving corpus: each live id from the file holding its
    // current content, and a from-scratch build of it per family
    val survivors = live.groupBy(_._2).map { case (path, m) =>
      load(ctx, path).join(m.keys.toSeq.toDF("doc_id"), "doc_id")
    }.reduce(_ unionByName _).cache()
    // the PQ books are frozen at build time by the family's contract:
    // the rebuild is the live books' encode of every survivor
    val livePq = PqSegments.read(spark, roots("pq"))
    val (cells, codes) = PqIndex.encodeShard(livePq, vecs(survivors))
    val rebuilt = Map[String, Any](
      "sparse" -> SparseIndex.build(SparseIndex.termFreqs(docs(survivors))),
      "pq" -> PqIndex.Index(livePq.coarse, cells, livePq.books, codes),
      "minhash" -> NearDup.signatures(docs(survivors)))
    val rec = ctx.rec
    // serves are functions of the index: MinHash compares the index itself
    val served = Seq("sparse", "pq")
    val (_, fromScratch) = serveAll(ctx, lastQueries, rebuilt, served)
    served.foreach { c =>
      rec.op(rec.check(s"serve $c equals rebuild",
        lastServed(c) == fromScratch(c) && lastServed(c).nonEmpty,
        s"served ${lastServed(c).size} rows, rebuild " +
          s"${fromScratch(c).size}, differing " +
          s"${(lastServed(c) diff fromScratch(c)).take(3)}"))
    }
    rec.op(rec.check("minhash index equals re-signing survivors",
      MinHashSegments.read(spark, roots("minhash")).collect().toSet ==
        rebuilt("minhash").asInstanceOf[DataFrame].collect().toSet))
    rec.values("write_amp") = written.values.sum.toDouble / deltaBytes
    if (ctx.tracer.enabled) {
      // space: bytes on disk vs the rebuild written as fresh layouts
      // (traced runs only; it costs a full write of all three)
      val fresh = codecs.map(c => c -> ctx.fresh(s"rebuild_$c")).toMap
      SparseSegments.init(rebuilt("sparse").asInstanceOf[SparseIndex.Index],
        fresh("sparse"))
      PqSegments.init(rebuilt("pq").asInstanceOf[PqIndex.Index], fresh("pq"))
      MinHashSegments.init(rebuilt("minhash").asInstanceOf[DataFrame],
        fresh("minhash"))
      rec.values("space_amp") = roots.values.map(treeBytes).sum.toDouble /
        fresh.values.map(treeBytes).sum
    }
    survivors.unpersist()
    rec.values("etl.segments.mb_written") =
      (written("append") + written("delete")) / 1e6
    rec.values("etl.segments.mb_rewritten") = written("maintain") / 1e6
    rec.values("etl.segments.live_segments") = roots.values
      .map(r => SegmentOps.resolveSnapshot(spark, r).segs.size).sum
  }
}

object IndexLifecycle {
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("n_chars", LongType),
    StructField("embedding", ArrayType(FloatType))))

  private def load(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(docSchema).parquet(path)
  private def docs(df: DataFrame) = df.select("doc_id", "text")
  private def vecs(df: DataFrame) = AnnIndex.prep(
    df.select(col("doc_id").as("vec_id"), col("embedding")))

  private[perfbench] def copyTree(from: File, to: File): Unit = {
    val src = from.toPath
    java.nio.file.Files.walk(src).iterator().asScala.foreach { p =>
      val dst = to.toPath.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(dst)
      else java.nio.file.Files.copy(p, dst)
    }
  }

  /** Build the three base layouts from the base corpus (the same for
    * every seed) into `cache`, which then holds one directory per family
    * and a `.done` marker. Runs in its own process before a timed run. */
  def buildBase(spark: SparkSession, inputs: String, cache: String): Unit = {
    val base = load(spark, s"$inputs/corpus/base.parquet")
    SparseSegments.init(SparseIndex.build(SparseIndex.termFreqs(docs(base))),
      s"$cache/sparse")
    PqSegments.init(PqIndex.build(vecs(base)), s"$cache/pq")
    MinHashSegments.init(NearDup.signatures(docs(base)), s"$cache/minhash")
    new File(cache, ".done").createNewFile()
  }
}
