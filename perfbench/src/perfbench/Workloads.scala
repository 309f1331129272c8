package perfbench

import java.nio.file.{Files, Paths}
import java.sql.Date
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Imputation, Similarity, TextAnalysis}
import graft.operators.Upsert
import graft.pipeline.Pipelines
import graft.sources.Tables

object Workloads {
  def apply(name: String, c: Ctx): Workload = name match {
    case "etl_requests" => new EtlRequests(c)
    case "corpus_dedup" => new CorpusDedup(c)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Order-independent digest of a result: (rows, sum of row hashes). */
  def digest(rows: Array[Row]): (Long, Long) =
    (rows.length.toLong, rows.iterator.map(_.hashCode.toLong).sum)

  /** Rows in `a` but not `b` plus rows in `b` but not `a` (multisets). */
  def symDiff(a: DataFrame, b: DataFrame): Long = {
    val bb = b.select(a.columns.toIndexedSeq.map(col): _*)
    a.exceptAll(bb).union(bb.exceptAll(a)).count()
  }

  def pairs(df: DataFrame, a: String = "id_a", b: String = "id_b"): Set[(Long, Long)] =
    df.select(col(a), col(b)).collect().iterator.map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Table sizes written by the input generator: name -> (rows, bytes). */
  def tableSizes(inputs: String): Map[String, (Long, Long)] =
    Files.readAllLines(Paths.get(s"$inputs/_meta/tables.tsv")).asScala.map { l =>
      val Array(n, r, b) = l.split("\t"); n -> ((r.toLong, b.toLong))
    }.toMap

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var d, na, nb = 0.0
    var k = 0
    while (k < a.length) { d += a(k) * b(k); na += a(k) * a(k); nb += b(k) * b(k); k += 1 }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** rep = smallest id of each connected component over `edges`. */
  def components(ids: Iterable[Long], edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    ids.foreach(i => parent(i) = i)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(i => i -> find(i)).toMap
  }
}

/** The reference's own traffic over a star schema of about sf0.1. One
  * request of the reference takes a date window and runs both of its flows,
  * each loaded into its own fact table with an insert-only upsert
  * (function_app.py:23-402): the imputations flow into Fact_Imputaciones
  * (:148-315) and the fichajes flow, over the window's time entries
  * (:135-141, :318-388), into Fact_Fichajes. Here that is
  * `Pipelines.imputations` and `Pipelines.fichajes` restricted to the
  * window, each followed by `Upsert.upsertParquet` into its own target.
  *
  * The reference records no request mix, so three parts of the stream are
  * assumptions: new windows advance 14 days at a time, one request in six
  * re-requests a seeded earlier window (it must append 0 rows), and there
  * are two requests per imputation request. The ratios are chosen so that
  * each median falls inside one op kind rather than between two.
  * An imputation request
  * fills the nulls of a staging table under each `ext.Imputation`
  * strategy (mean, median, mode, group mean, kNN) and collects each result.
  *
  * Every request reads the 14 days before its window as its look-back
  * (`loadedFrom`), which for contiguous windows is the previous window.
  * Set-up loads the first two windows into both targets, the first into
  * empty targets and the second as an append, so every timed request
  * appends to an existing target, as a request of a running deployment
  * does, on a JVM that has run that path before.
  */
final class EtlRequests(c: Ctx) extends Workload {
  import c._
  private val rng = new java.util.Random(seed * 7919L + 1L)
  private val sizes = Workloads.tableSizes(inputs)
  private val dayRows: Array[Long] =
    Files.readAllLines(Paths.get(s"$inputs/_meta/lineitem_days.txt")).asScala.map(_.toLong).toArray
  private val day0 = LocalDate.parse("1992-01-01")
  private def day(d: Int): String = day0.plusDays(d.toLong).toString
  private val WindowDays = 14
  private val impKeys = Seq("s_suppkey", "fecha", "tipo")
  private val ficKeys = Seq("empleado_id", "fecha")
  private val impTarget = s"$dir/target/imputations"
  private val ficTarget = s"$dir/target/fichajes"
  private val windows = mutable.ArrayBuffer.empty[(Int, Int)]
  private var cursor = 30 + rng.nextInt(60)
  private val appended = mutable.HashMap.empty[Int, (Long, Long)]
  private var initialBytes = 0L
  private val rerequests = mutable.HashSet.empty[Int]
  private val requestOps = mutable.ArrayBuffer.empty[Int]
  private val imputed = mutable.HashMap.empty[Int, Seq[(String, (Long, Long))]]
  // rows of the first imputation request, per strategy, for the checks
  private var firstImputed: Map[String, Array[Row]] = Map.empty
  private val strategies = IndexedSeq("mean", "median", "mode", "group_mean", "knn")

  override def storeDirs: Seq[String] = Seq(impTarget, ficTarget)
  override def setupStoreInBytes: Long = initialBytes
  // one cycle: 'n' a new window, 'r' a re-request, 'i' an imputation request
  private val Cycle = "ninnirnin"
  override def cycle: Int = Cycle.length

  private def rows(from: Int, to: Int): Long = (from until to).map(dayRows(_)).sum

  private def inWindow(df: DataFrame, from: Int, to: Int): DataFrame =
    df.filter(col("fecha") >= lit(Date.valueOf(day(from))) && col("fecha") < lit(Date.valueOf(day(to))))

  /** One reference request over the days [from, to): both flows, each
    * upserted into its target. Returns the rows each upsert appended.
    */
  private def request(from: Int, to: Int, loadedFrom: Int, impDir: String, ficDir: String): (Long, Long) = {
    val imp = tracer.span("pipeline.call")(
      Pipelines.imputations(spark, inputs, day(from), day(to), day(loadedFrom)))
    val impRows = tracer.span("operators.upsert")(Upsert.upsertParquet(spark, imp, impDir, impKeys, Some("fecha")))
    val fic = inWindow(tracer.span("pipeline.call")(Pipelines.fichajes(spark, inputs)), from, to)
    val ficRows = tracer.span("operators.upsert")(Upsert.upsertParquet(spark, fic, ficDir, ficKeys))
    (impRows, ficRows)
  }

  private def imputationFrame(strategy: String): DataFrame = {
    val missing = col("horas").isNull
    if (strategy == "knn") {
      val df = tracer.span("sources.load")(Tables.load(spark, inputs, "staging_vec"))
      Imputation.knnImpute(df, "id", "vec", "horas", 5)
    } else {
      val df = tracer.span("sources.load")(Tables.load(spark, inputs, "staging"))
      strategy match {
        case "mean" => Imputation.impute(df, "horas", Imputation.Mean, missing)
        case "median" => Imputation.impute(df, "horas", Imputation.Median, missing)
        case "mode" => Imputation.impute(df, "horas", Imputation.Mode, missing)
        case "group_mean" => Imputation.imputeGroupMean(df, "horas", Seq("s_suppkey", "tipo"), missing)
      }
    }
  }

  /** One strategy of an imputation request: the call and the collect that
    * runs the frame it returns.
    */
  private def impute(strategy: String): Array[Row] =
    tracer.span("ext.imputation")(imputationFrame(strategy).collect())

  /** Input parquet bytes a new window [from, to) adds to the targets. */
  private def windowBytes(from: Int, to: Int): Long = {
    val (liRows, liBytes) = sizes("lineitem")
    (liBytes.toDouble * rows(from, to) / liRows + sizes("events")._2.toDouble * (to - from) / dayRows.length).toLong
  }

  def setup(): Unit = {
    // initial state and warm-up: the first two windows, loaded as two
    // requests
    for (_ <- 0 until 2) {
      val f = cursor
      cursor += WindowDays
      windows += ((f, cursor))
      initialBytes += windowBytes(f, cursor)
      request(f, cursor, f - WindowDays, impTarget, ficTarget)
    }
  }

  def next(i: Int): Op =
    if (Cycle(i % cycle) != 'i') {
      val re = Cycle(i % cycle) == 'r'
      val (from, to) =
        if (re) windows(rng.nextInt(windows.size))
        else {
          val f = cursor
          cursor += WindowDays
          windows += ((f, cursor))
          (f, cursor)
        }
      val loadedFrom = from - WindowDays
      if (re) rerequests += i
      requestOps += i
      val storeIn = if (re) 0L else windowBytes(from, to)
      val rowsIn = rows(loadedFrom, to) + sizes("events")._1 + sizes("customer")._1
      Op(if (re) "etl_rerequest" else "etl_request", "write", rowsIn, storeIn, storeDirs,
        () => appended(i) = request(from, to, loadedFrom, impTarget, ficTarget))
    } else {
      Op("imputation_request", "read", 4 * sizes("staging")._1 + sizes("staging_vec")._1, 0L, Nil,
        () => {
          val results = strategies.map(s => s -> impute(s))
          if (firstImputed.isEmpty) firstImputed = results.toMap
          imputed(i) = results.map { case (s, rows) => s -> Workloads.digest(rows) }
        })
    }

  def check(): Seq[(Int, String)] = {
    val bad = mutable.ArrayBuffer.empty[(Int, String)]
    // a re-requested window appends nothing to either target
    rerequests.foreach(i => appended.get(i).filter(_ != ((0L, 0L))).foreach { case (a, b) =>
      bad += i -> s"re-requested window appended $a imputations rows and $b fichajes rows" })
    // each target equals one one-shot run of its flow over the union of the
    // requested windows, with no business key twice
    if (windows.nonEmpty) {
      val (f, t) = (windows.head._1, windows.last._2)
      Seq(
        ("imputations", impTarget, impKeys, Pipelines.imputations(spark, inputs, day(f), day(t), day(f))),
        ("fichajes", ficTarget, ficKeys, inWindow(Pipelines.fichajes(spark, inputs), f, t))
      ).foreach { case (flow, path, keys, want) =>
        val why =
          if (!Upsert.tableExists(spark, path)) Some(s"$flow target missing")
          else {
            val got = spark.read.parquet(path)
            val diff = Workloads.symDiff(want, got)
            val dups = got.groupBy(keys.map(col): _*).count().filter(col("count") > 1).count()
            if (diff != 0 || dups != 0) Some(s"$flow target != one-shot load: $diff rows differ, $dups duplicate keys")
            else None
          }
        why.foreach(w => requestOps.foreach(i => bad += i -> w))
      }
    }
    // every strategy of every imputation request returns the result of the
    // first request (recomputed if that one failed), which meets the
    // strategy's invariants
    strategies.foreach { kind =>
      val df = imputationFrame(kind)
      val rowsNow = firstImputed.getOrElse(kind, df.collect())
      val want = Workloads.digest(rowsNow)
      val invariant = kind match {
        case "knn" =>
          val n = sizes("staging_vec")._1
          if (rowsNow.length == n) None else Some(s"knn rows ${rowsNow.length} != $n")
        case _ =>
          val imputedCol = df.schema.fieldIndex("horas_imputed")
          val orig = df.schema.fieldIndex("horas")
          val n = sizes("staging")._1
          if (rowsNow.length != n) Some(s"$kind rows ${rowsNow.length} != $n")
          else if (rowsNow.exists(r => !r.isNullAt(orig) && r.getDouble(orig) != r.getDouble(imputedCol)))
            Some(s"$kind changed a present value")
          else if (kind != "group_mean" && rowsNow.exists(_.isNullAt(imputedCol)))
            Some(s"$kind left a value missing")
          else None
      }
      imputed.foreach { case (i, results) =>
        results.filter(_._1 == kind).foreach { case (_, got) =>
          if (got != want) bad += i -> s"$kind result differs from the first request's"
          invariant.foreach(why => bad += i -> why)
        }
      }
    }
    bad.toSeq
  }
}

/** Batch curation operators over a documents and embeddings corpus 7.2x
  * sf0.1. Each op runs on a fresh shard of 1500 documents and 1500 vectors.
  * Ops alternate between two batch kinds, two of each per cycle; the 1:1
  * mix is an assumption, as no source records one:
  *  - a curation batch (write): `curationGate` and `minhashComponents`,
  *    each written as parquet;
  *  - a similarity batch (read): `minhashLshPairs`, `cosineNearDupPairsAuto`
  *    and `ivfTopK`, each collected.
  */
final class CorpusDedup(c: Ctx) extends Workload {
  import c._
  private val sizes = Workloads.tableSizes(inputs)
  private val shards = sizes.keys.count(_.endsWith("/documents"))
  private lazy val shardRows = sizes("shard_000/documents")._1
  private val outputs = mutable.HashMap.empty[Int, (String, Int, Map[String, Set[(Long, Long)]])]
  private val outDir = s"$dir/out"
  override def storeDirs: Seq[String] = Seq(outDir)
  override def cycle: Int = 4

  private def shardDir(s: Int) = f"$inputs/shard_$s%03d"
  /** Shard `s` restricted to its first `limit` rows. */
  private def docs(s: Int, limit: Long) =
    cut(tracer.span("sources.load")(Tables.documents(spark, shardDir(s))), "doc_id", s, limit)
  private def emb(s: Int, limit: Long) =
    cut(tracer.span("sources.load")(Tables.embeddings(spark, shardDir(s))), "vec_id", s, limit)
  private def cut(df: DataFrame, idc: String, s: Int, limit: Long) =
    if (limit >= shardRows) df else df.filter(col(idc) < s.toLong * shardRows + limit)
  private def queries(e: DataFrame, s: Int) = e.filter(col("vec_id") < s.toLong * shardRows + 50)

  private def lshPairs(d: DataFrame) = Dedup.minhashLshPairs(d, "doc_id", "text", 1, 64, 16, 0.8)
  private def gate(d: DataFrame) = TextAnalysis.curationGate(d, "doc_id", "text",
    langs = Seq("en"), minQuality = 0.5, minTokens = 5, maxTokens = 1000)

  // Each span covers one operator call and the action that runs the frame
  // it returns, so the operator's execution is charged to its layer.
  private def curate(s: Int, out: String, limit: Long): Unit = {
    tracer.span("ext.text")(gate(docs(s, limit)).write.mode("overwrite").parquet(s"$out/gate"))
    tracer.span("ext.dedup")(Dedup.minhashComponents(docs(s, limit), "doc_id", "text", 1, 64, 16, 0.8)
      .write.mode("overwrite").parquet(s"$out/components"))
  }

  private def similarity(s: Int, limit: Long): Map[String, Set[(Long, Long)]] = Map(
    "minhash_pairs" -> tracer.span("ext.dedup")(Workloads.pairs(lshPairs(docs(s, limit)))),
    "cosine_pairs" -> tracer.span("ext.similarity")(Workloads.pairs(
      Similarity.cosineNearDupPairsAuto(emb(s, limit), "vec_id", "embedding", 0.9))),
    "ivf_topk" -> tracer.span("ext.similarity") {
      val e = emb(s, limit)
      Workloads.pairs(Similarity.ivfTopK(e, queries(e, s), "vec_id", "embedding", 5, nlist = 16, nprobe = 8),
        "query_id", "neighbor_id")
    })

  def setup(): Unit = {
    // warm-up: each batch kind once on the last shard, which the loop
    // never uses
    curate(shards - 1, s"$dir/warm", shardRows)
    similarity(shards - 1, shardRows)
    Main.deleteTree(new java.io.File(s"$dir/warm"))
  }

  def next(i: Int): Op = {
    val s = i % (shards - 1)
    val (docRows, docBytes) = sizes(f"shard_$s%03d/documents")
    if (i % 2 == 0) {
      val out = s"$outDir/op_$i"
      Op("curation_batch", "write", docRows, docBytes, Seq(out), () => {
        curate(s, out, shardRows); outputs(i) = ("curation_batch", s, Map.empty)
      })
    } else {
      Op("similarity_batch", "read", docRows + sizes(f"shard_$s%03d/embeddings")._1, 0L, Nil,
        () => outputs(i) = ("similarity_batch", s, similarity(s, shardRows)))
    }
  }

  def check(): Seq[(Int, String)] = {
    val bad = mutable.ArrayBuffer.empty[(Int, String)]
    def recall(kind: String, got: Set[(Long, Long)], exact: Set[(Long, Long)],
        floor: Double, subset: Boolean): Option[String] = {
      val r = if (exact.isEmpty) 1.0 else got.count(exact).toDouble / exact.size
      if (subset && !got.subsetOf(exact)) Some(s"$kind returned ${(got -- exact).size} pairs outside the exact set")
      else if (r < floor) Some(f"$kind recall $r%.3f < $floor")
      else None
    }
    outputs.toSeq.sortBy(_._1).foreach { case (i, (kind, s, res)) =>
      val d = Tables.documents(spark, shardDir(s))
      val whys: Seq[Option[String]] =
        if (kind == "curation_batch") {
          val comps = {
            val ids = d.select("doc_id").collect().map(_.getLong(0))
            val want = Workloads.components(ids, Workloads.pairs(lshPairs(d)))
            val got = spark.read.parquet(s"$outDir/op_$i/components").collect()
              .map(r => r.getAs[Long]("id") -> r.getAs[Long]("rep")).toMap
            if (got == want) None
            else Some(s"components differ from union-find over the banded pairs on ${
              (want.toSet diff got.toSet).size} ids")
          }
          val gated = {
            val r = spark.read.parquet(s"$outDir/op_$i/gate").agg(count(lit(1)), countDistinct(col("doc_id")),
              count(when(col("keep") =!= col("reject_reason").isNull, 1))).head()
            val (n, ids, inconsistent) = (r.getLong(0), r.getLong(1), r.getLong(2))
            if (n != shardRows || ids != shardRows) Some(s"curation gate wrote $n rows, $ids ids for $shardRows documents")
            else if (inconsistent > 0) Some(s"$inconsistent rows with keep inconsistent with reject_reason")
            else None
          }
          Seq(comps, gated)
        } else {
          val v = Tables.embeddings(spark, shardDir(s)).select("vec_id", "embedding").collect().toIndexedSeq
            .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
          val byId = v.toMap
          val lsh = recall("minhash_pairs", res("minhash_pairs"),
            Workloads.pairs(Dedup.ngramJaccardPairs(d, "doc_id", "text", 1, 0.8)), 0.9, subset = true)
          // exact all-pairs cosine on the driver; pairs within 1e-5 of the
          // threshold may go either way
          val cos = {
            val got = res("cosine_pairs")
            val ex = (for {
              x <- v.indices.iterator; y <- (x + 1 until v.length).iterator
              if Workloads.cosine(v(x)._2, v(y)._2) >= 0.9 + 1e-5
            } yield (math.min(v(x)._1, v(y)._1), math.max(v(x)._1, v(y)._1))).toSet
            val below = got.count { case (a, b) => Workloads.cosine(byId(a), byId(b)) < 0.9 - 1e-5 }
            if (below > 0) Some(s"cosine_pairs returned $below pairs below the threshold")
            else recall("cosine_pairs", got, ex, 0.8, subset = false)
          }
          // exact top-5 by cosine on the driver (ties by smaller id)
          val ivf = {
            val first = s.toLong * shardRows
            val ex = v.filter(_._1 < first + 50).flatMap { case (q, qv) =>
              v.filter(_._1 != q).map { case (n, nv) => (n, Workloads.cosine(qv, nv)) }
                .sortBy { case (n, c) => (-c, n) }.take(5).map(x => (q, x._1))
            }.toSet
            recall("ivf_topk", res("ivf_topk"), ex, 0.7, subset = false)
          }
          Seq(lsh, cos, ivf)
        }
      whys.flatten.foreach(w => bad += i -> w)
    }
    bad.toSeq
  }
}
