package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.functions.{ArgMaxCosFx, BroadcastArray, DotProductFx}

/** Lloyd's k-means over fixed-point embeddings, trained the way Spark
  * MLlib's KMeans trains: each partition assigns its vectors and sums
  * them per cluster, the partial sums merge on the driver, and the
  * driver computes the next centroids. One Lloyd step is one job, and
  * the trained centroid table stays on the driver as a [[Centroids]]
  * value that assignment reads through one broadcast.
  *
  * The values are exactly those of the DataFrame composition this
  * replaced (assign, `posexplode(qe)`, group by (cluster, pos),
  * `floor(sum / count)`, regroup by cluster) and of the DuckDB oracle's
  * `lloydRoundSql`, which mirrors that composition:
  *  - assignment is the [[ArgMaxCosFx]] kernel (max cosine, ties to the
  *    lowest cluster id);
  *  - per (cluster, pos), `cnt` counts the members whose vector reaches
  *    `pos`, null elements included, and `sv` is the exact long sum of
  *    the non-null elements: null when none, an error on overflow (as
  *    ANSI `sum`);
  *  - a null or empty vector adds nothing, so a cluster whose members
  *    are all null or empty, like one with no members, has no row;
  *  - `val = floor((double) sv / (double) cnt)`, the centroid `ce` is
  *    the `val`s in position order and `nc = ce · ce`
  *    ([[DotProductFx.dot]]: null when an element is null).
  */
object Lloyd {

  /** The (cluster, ce, nc) element type of a centroid table. */
  val CentroidType: StructType = StructType(Seq(
    StructField("cluster", LongType), StructField("ce", ArrayType(LongType)),
    StructField("nc", LongType)))

  /** The (cluster, pos, sv, cnt, val) row type of [[Sums.rows]]. */
  val SumsType: StructType = StructType(Seq(
    StructField("cluster", LongType), StructField("pos", IntegerType, nullable = false),
    StructField("sv", LongType), StructField("cnt", LongType, nullable = false),
    StructField("val", LongType)))

  /** A centroid table held on the driver: `cs` is an array of
    * [[CentroidType]] structs, the `cs` input of [[ArgMaxCosFx]]. */
  final class Centroids(val cs: ArrayData) {

    def size: Int = cs.numElements()

    /** Whether the top-1 argmax over this table resolves for every
      * vector: the table has a centroid and every centroid an id. */
    def alwaysResolves: Boolean =
      size > 0 && (0 until size).forall(i => !cs.getStruct(i, 3).isNullAt(0))

    /** The rows as a local (cluster, ce, nc) frame. */
    def frame(s: SparkSession): DataFrame = {
      val rows = (0 until size).map { i =>
        val r = cs.getStruct(i, 3)
        Row(get(r, 0), if (r.isNullAt(1)) null else elements(r.getArray(1)), get(r, 2))
      }
      s.createDataFrame(java.util.Arrays.asList(rows: _*), CentroidType)
    }

    private var shipped: Broadcast[ArrayData] = _

    /** The table as a column every row reads, broadcast on first use. */
    def served(s: SparkSession): Column = synchronized {
      if (shipped == null) shipped = s.sparkContext.broadcast(cs)
      BroadcastArray.served(shipped, ArrayType(CentroidType, containsNull = false),
        s"centroids(k=$size)")
    }
  }

  object Centroids {
    /** The (cluster, ce, nc) rows of `cents`, collected to the driver. */
    def collect(cents: DataFrame): Centroids =
      fromRows(cents.select("cluster", "ce", "nc").queryExecution.toRdd
        .map(_.copy()).collect().toSeq)

    /** A table of (cluster, ce, nc) internal rows. */
    private[Lloyd] def fromRows(rows: Seq[InternalRow]): Centroids =
      new Centroids(new GenericArrayData(rows.map { r =>
        new GenericInternalRow(Array[Any](get(r, 0),
          if (r.isNullAt(1)) null else r.getArray(1).copy(), get(r, 2)))
      }.toArray[Any]))
  }

  private def get(r: InternalRow, i: Int): Any = if (r.isNullAt(i)) null else r.getLong(i)

  private def elements(a: ArrayData): Seq[Any] =
    (0 until a.numElements()).map(i => if (a.isNullAt(i)) null else a.getLong(i))

  /** The corpus as every step of one training reads it: (vec_id, qe, nq)
    * rows of `b`. Building the RDD runs `b`'s exchanges (the fan-out of
    * [[graft.Tables.embeddings]]) once; every later step reads their
    * output. */
  def corpus(b: DataFrame): RDD[InternalRow] =
    b.select(col("vec_id"), col("qe"), col("nq")).queryExecution.toRdd

  /** The deterministic seeds: the vectors with vec_id < `k`, each its
    * own cluster (cluster = vec_id, ce = qe, nc = nq). */
  def seeds(corpus: RDD[InternalRow], k: Long): Centroids =
    Centroids.fromRows(corpus
      .filter(r => !r.isNullAt(0) && r.getLong(0) < k)
      .map(_.copy()).collect().toSeq)

  /** One Lloyd step as one job: assign every vector of `corpus` to its
    * nearest centroid of `cents`, sum per cluster and position on each
    * partition, and merge the partial sums by tree aggregation. */
  def step(corpus: RDD[InternalRow], cents: Centroids): Sums = {
    val cs = cents.cs
    val clusters = (0 until cents.size).flatMap { i =>
      val r = cs.getStruct(i, 3)
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }.distinct.sorted.toArray
    val zero = new Sums(clusters)
    corpus.mapPartitions { rows =>
      val fx = ArgMaxCosFx(BoundReference(1, ArrayType(LongType), nullable = true),
        BoundReference(2, LongType, nullable = true),
        BoundReference(0, ArrayType(CentroidType), nullable = true))
      val slot = new scala.collection.mutable.LongMap[Int]()
      clusters.indices.foreach(i => slot(clusters(i)) = i)
      val sums = new Sums(clusters)
      rows.foreach { r =>
        val qe = if (r.isNullAt(1)) null else r.getArray(1)
        if (qe != null && qe.numElements() > 0) {
          // the kernel's eval: a null norm nulls every cosine
          val nq = !r.isNullAt(2)
          val c = fx.argmax(if (nq) qe else null, if (nq) r.getLong(2) else 0L, cs)
          if (c != null) sums.add(slot(c), qe)
        }
      }
      Iterator.single(sums)
    }.treeAggregate(zero)(_ merge _, _ merge _)
  }

  /** The training every IVF-family query shares: the vec_id < `k` seeds,
    * then two Lloyd steps over `b`. Three jobs after the fan-out: the
    * seeds' collect and one per step. */
  def train(b: DataFrame, k: Long): Sums = {
    val rows = corpus(b)
    step(rows, step(rows, seeds(rows, k)).centroids)
  }

  /** Exact per-cluster sums of one Lloyd step. For cluster
    * `clusters(s)` and position i, `cnt(s)(i)` members reach i and
    * `sum(s)(i)` is the sum of their non-null elements when
    * `summed(s)(i)`; a cluster with no non-empty member keeps null
    * arrays. */
  final class Sums(val clusters: Array[Long]) extends Serializable {
    private val cnt = new Array[Array[Long]](clusters.length)
    private val sum = new Array[Array[Long]](clusters.length)
    private val summed = new Array[Array[Boolean]](clusters.length)

    /** Grows cluster `s`'s arrays to `n` positions. */
    private def reach(s: Int, n: Int): Unit =
      if (cnt(s) == null) {
        cnt(s) = new Array[Long](n); sum(s) = new Array[Long](n); summed(s) = new Array[Boolean](n)
      } else if (cnt(s).length < n) {
        cnt(s) = java.util.Arrays.copyOf(cnt(s), n)
        sum(s) = java.util.Arrays.copyOf(sum(s), n)
        summed(s) = java.util.Arrays.copyOf(summed(s), n)
      }

    /** Adds `n` members at position `i` of cluster `s` and, when `has`,
      * the element sum `v`: exact, an overflow is an error. */
    private def put(s: Int, i: Int, n: Long, has: Boolean, v: Long): Unit = {
      cnt(s)(i) += n
      if (has) {
        sum(s)(i) =
          if (!summed(s)(i)) v
          else try Math.addExact(sum(s)(i), v)
          catch { case _: ArithmeticException => throw new ArithmeticException(
            s"long overflow in the Lloyd sum of cluster ${clusters(s)} at position $i") }
        summed(s)(i) = true
      }
    }

    def add(s: Int, qe: ArrayData): Unit = {
      val n = qe.numElements()
      reach(s, n)
      var i = 0
      while (i < n) {
        val has = !qe.isNullAt(i)
        put(s, i, 1L, has, if (has) qe.getLong(i) else 0L)
        i += 1
      }
    }

    def merge(o: Sums): Sums = {
      var s = 0
      while (s < clusters.length) {
        if (o.cnt(s) != null) {
          reach(s, o.cnt(s).length)
          var i = 0
          while (i < o.cnt(s).length) {
            put(s, i, o.cnt(s)(i), o.summed(s)(i), o.sum(s)(i))
            i += 1
          }
        }
        s += 1
      }
      this
    }

    private def present: Seq[Int] = clusters.indices.filter(s => cnt(s) != null)

    private def value(s: Int, i: Int): java.lang.Long =
      if (!summed(s)(i)) null
      else math.floor(sum(s)(i).toDouble / cnt(s)(i).toDouble).toLong

    /** The next centroid table: per cluster with members, the `val`s in
      * position order and their exact squared norm. */
    def centroids: Centroids = new Centroids(new GenericArrayData(present.map { s =>
      val vals = cnt(s).indices.map(i => value(s, i))
      val ce =
        if (vals.forall(_ != null)) UnsafeArrayData.fromPrimitiveArray(vals.map(_.longValue).toArray)
        else new GenericArrayData(vals.toArray[Any])
      new GenericInternalRow(Array[Any](clusters(s), ce, DotProductFx.dot(ce, ce)))
    }.toArray[Any]))

    /** The (cluster, pos, sv, cnt, val) rows, one per cluster and
      * position, as a local frame. */
    def rows(sp: SparkSession): DataFrame = {
      val out = for (s <- present; i <- cnt(s).indices) yield
        Row(clusters(s), i, if (summed(s)(i)) sum(s)(i) else null, cnt(s)(i), value(s, i))
      sp.createDataFrame(java.util.Arrays.asList(out: _*), SumsType)
    }
  }
}
