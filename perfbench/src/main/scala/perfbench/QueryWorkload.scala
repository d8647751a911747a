package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, TextAnalysis}
import Main.{noop, Plan, PassResult}

/** `catalog_sf01` and `curation_corpus`: the plan's ordered list of
  * registered queries over the plan's data dir. Each query is built
  * through `SparkEntry.queries` (construction, including any eager gate
  * jobs) and then materialized through a `noop` sink, timed from outside. */
final class QueryWorkload(plan: Plan) extends Main.Workload {
  private val dir = plan.s("data_dir")
  private val order = plan.strs("queries")
  private val cores = plan.i("cpus")
  private val failures = mutable.LinkedHashMap[String, String]()
  private var buildS, actionS = 0.0

  def warmFailures: Map[String, String] = failures.toMap

  /** One untimed pass; with `check`, each result is written as parquet for
    * the out-of-window DuckDB comparison, and the oracle SQL beside it. */
  def warm(spark: SparkSession, check: Boolean): Unit = {
    val checkDir = plan.s("check_dir")
    order.foreach { name =>
      val t0 = System.nanoTime()
      try {
        val df = graft.SparkEntry.queries(name)(spark, dir)
        if (check) df.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$name")
        else noop(df)
      } catch { case e: Throwable => failures(name) = String.valueOf(e.getMessage).take(300) }
      System.err.println(f"[perfbench] warm $name%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    if (check) {
      val sql = graft.SparkEntry.oracleSql
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$checkDir/oracle_sql.json"),
        Json.obj(order.flatMap(n => sql.get(n).map(q => n -> Json.str(q)))).getBytes("UTF-8"))
    }
  }

  def pass(spark: SparkSession, tag: String, t: Option[Tracer]): PassResult = {
    val sc = spark.sparkContext
    def span[T](name: String)(body: => T): T = t.fold(body)(_.spans(name)(body))
    val times = mutable.ArrayBuffer[(String, Double)]()
    val failed = mutable.ArrayBuffer[String]()
    buildS = 0.0; actionS = 0.0
    val p0 = System.nanoTime()
    span("pass") {
      order.foreach { name =>
        try span("query") {
          val t0 = System.nanoTime()
          sc.setJobGroup(s"pb.$tag.build", name)
          val df = span("queries.build")(graft.SparkEntry.queries(name)(spark, dir))
          val t1 = System.nanoTime()
          sc.setJobGroup(s"pb.$tag.exec", name)
          span("plans+exec")(noop(df))
          val t2 = System.nanoTime()
          buildS += (t1 - t0) / 1e9; actionS += (t2 - t1) / 1e9
          times += name -> (t2 - t0) / 1e9
        } catch { case _: Throwable => failed += name }
        finally sc.clearJobGroup()
      }
    }
    PassResult((System.nanoTime() - p0) / 1e9, times.toSeq, failed.toSeq, order.size)
  }

  def layers(t: Tracer, r: PassResult): Unit = {
    t.add("queries.build_s", buildS)
    t.add("queries.build_jobs", t.telemetry.group("pb.traced.build").jobs.get.toDouble)
    val execS = t.execLayer("pb.traced.exec", r.wallS, cores)
    t.add("plans.plan_s", actionS - execS)
    val ps = t.plans
    t.add("plans.exchanges", ps.exchanges.toDouble); t.add("plans.smj", ps.smj.toDouble)
    t.add("tables.scan_s", ps.scanMs / 1e3); t.add("tables.rows", ps.scanRows.toDouble)
    t.add("exec.rows_out", ps.rowsOut.toDouble)
  }

  def probes(spark: SparkSession, t: Tracer): Unit =
    QueryWorkload.probeKernels(spark, t,
      graft.Tables.documents(spark, dir).select("doc_id", "text"),
      Some(graft.Tables.embeddings(spark, dir).select("vec_id", "embedding")))
}

object QueryWorkload {
  /** The dedup/ANN kernels of `graft.operators` and `graft.functions`, each
    * run alone over cached inputs and timed to its `noop` sink, so a
    * kernel's time is not mixed with the scan or with its neighbours. */
  def probeKernels(spark: SparkSession, t: Tracer, docs0: DataFrame,
      embs0: Option[DataFrame]): Unit = {
    def timed(metric: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      t.spans(metric)(body)
      t.add(metric, (System.nanoTime() - t0) / 1e9)
    }
    val cached = mutable.ArrayBuffer[DataFrame]()
    def keep(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); cached += c; c }

    val docs = keep(docs0)
    timed("functions.tokenhash_s")(noop(
      docs.select(explode(TextAnalysis.tokens(col("text"))).as("w"))
        .select(TextAnalysis.tokenHash(col("w")))))
    timed("operators.shingled_s")(noop(Dedup.shingled(docs)))
    val sh = keep(Dedup.shingled(docs))
    val occ = sh.select(col("doc_id"), explode(col("ss")).as("s"))
    timed("operators.minhash_sig_s")(noop(Dedup.minhashSigAgg(occ)))
    val cand = keep(Dedup.bandCollisionPairs(keep(Dedup.minhashSigAgg(occ))))
    val nCand = cand.count()
    val nVerified = cand
      .join(sh.select(col("doc_id").as("a"), col("ss").as("sa")), col("d1") === col("a"))
      .join(sh.select(col("doc_id").as("b"), col("ss").as("sb")), col("d2") === col("b"))
      .filter(Dedup.jaccard(col("sa"), col("sb")) >= 0.8).count()
    t.add("operators.candidate_pairs", nCand.toDouble)
    t.add("operators.pair_yield", if (nCand > 0) nVerified.toDouble / nCand else 0.0)
    var pairs: DataFrame = null
    timed("operators.jaccard_pairs_s") { pairs = keep(Dedup.jaccardPairs(docs, 0.5).select("d1", "d2")) }
    timed("operators.cc_s")(noop(Dedup.connectedComponents(pairs)))

    embs0.foreach { e0 =>
      val embs = keep(e0)
      timed("functions.quantize_s")(noop(embs.select(Similarity.quantize(col("embedding")))))
      val q = keep(embs.select(col("vec_id"), Similarity.quantize(col("embedding")).as("qe"))
        .withColumn("nq", Similarity.dotFx(col("qe"), col("qe"))))
      val packed = q.orderBy("vec_id").limit(16)
        .agg(collect_list(struct(col("vec_id").as("cluster"), col("qe").as("ce"), col("nq").as("nc"))).as("cs"))
      timed("operators.assign_s")(noop(q.crossJoin(broadcast(packed))
        .select(col("vec_id"),
          graft.functions.ArgMaxCosFx.argmax_cos_fx(col("qe"), col("nq"), col("cs")).as("cluster"))))
    }
    cached.foreach(_.unpersist())
  }
}
