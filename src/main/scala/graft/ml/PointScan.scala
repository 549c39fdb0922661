package graft.ml

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.apache.spark.storage.StorageLevel

/** One partition's (lat, lon, cnt) rows as primitive columns, in row
  * order. A value whose `has*` flag is false was null (its slot holds 0),
  * so each pass applies its own null rule: the bounding box skips nulls
  * per column, the rounds and the silhouettes skip rows with any null. */
private[ml] final class PointBlock(val lat: Array[Double],
                                   val lon: Array[Double],
                                   val cnt: Array[Long],
                                   val hasLat: Array[Boolean],
                                   val hasLon: Array[Boolean],
                                   val hasCnt: Array[Boolean])
    extends Serializable {

  def size: Int = lat.length

  /** Row `i` has a lat, a lon and a cnt. */
  def complete(i: Int): Boolean = hasLat(i) && hasLon(i) && hasCnt(i)
}

private[ml] object PointBlock {

  /** Copies rows with lat, lon, cnt at ordinals 0, 1, 2 as double, double,
    * long. */
  def apply(rows: Iterator[InternalRow]): PointBlock = {
    val lat = Array.newBuilder[Double]
    val lon = Array.newBuilder[Double]
    val cnt = Array.newBuilder[Long]
    val hasLat = Array.newBuilder[Boolean]
    val hasLon = Array.newBuilder[Boolean]
    val hasCnt = Array.newBuilder[Boolean]
    rows.foreach { r =>
      hasLat += !r.isNullAt(0)
      lat += (if (r.isNullAt(0)) 0.0 else r.getDouble(0))
      hasLon += !r.isNullAt(1)
      lon += (if (r.isNullAt(1)) 0.0 else r.getDouble(1))
      hasCnt += !r.isNullAt(2)
      cnt += (if (r.isNullAt(2)) 0L else r.getLong(2))
    }
    new PointBlock(lat.result(), lon.result(), cnt.result(),
      hasLat.result(), hasLon.result(), hasCnt.result())
  }
}

/** The (lat, lon, cnt) rows of a weighted point cloud, EVALUATED ONCE and
  * every k-means pass over them PLANNED ONCE.
  *
  *  - The points: the scan persists one [[PointBlock]] per partition
  *    (MEMORY_AND_DISK). The first pass's own job fills the blocks, so the
  *    caller's frame is evaluated once per scan, cached or not, and no job
  *    is added; [[PointScan.using]] releases them.
  *  - The passes: the scan plans one Dataset, once, with one binary row per
  *    partition — a pass's partial, Java-serialized. A pass (the bounding
  *    box, a Lloyd round, the silhouettes) puts its fold, with its inputs
  *    (the centroid sets) in the fold's closure, into a driver-side cell
  *    that the planned RDD's closure captures, then `collect`s that same
  *    Dataset. Spark serializes a job's task binary when it submits the
  *    job's stage, so each job's tasks carry the fold of their own pass and
  *    never an older one. A pass builds no RDD, cleans no closure, resolves
  *    no encoder and plans no query.
  *
  * To listeners a pass is still ONE Dataset `collect` action, one Spark job
  * with one stage, described `"<label> <pass>"` (e.g.
  * `graft.ml.sweep round 3`). The caller's job group is left alone and its
  * job description comes back afterwards. Passes over one scan run one at
  * a time, from the thread that owns the scan.
  */
private[ml] final class PointScan private (points: DataFrame,
                                           label: String) {
  import PointScan._

  private val spark = points.sparkSession
  private val cell = new Cell

  private val blocks: RDD[PointBlock] = {
    // `cnt` must up-cast to a long (an integral column does; a fractional
    // one fails analysis, as it would decoding the rows), lat/lon to
    // doubles. `queryExecution.toRdd`, not `Dataset.rdd`: the latter is an
    // action of its own to listeners.
    val cols = points.select(col("lat"), col("lon"), col("cnt"))
    cols.as(Encoders.product[(Double, Double, Long)])
    cols.select(col("lat").cast(DoubleType), col("lon").cast(DoubleType),
      col("cnt").cast(LongType)).queryExecution.toRdd
      .mapPartitions(rows => Iterator.single(PointBlock(rows)))
      .setName(s"$label points")
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  private val partials: Dataset[Array[Byte]] = {
    val c = cell // the closure captures the cell, not the scan
    spark.createDataset(blocks.mapPartitions(it =>
      Iterator.single(c.run(it.next()))))(Encoders.BINARY)
  }

  /** Runs `fold` over every partition's block as one pass named `name`;
    * the partials come back in partition order. */
  def pass[P <: Serializable : ClassTag](name: String)(
      fold: PointBlock => P): Array[P] = {
    val sc = spark.sparkContext
    val caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"$label $name")
    cell.fold = fold
    try partials.collect().map(decode(_).asInstanceOf[P])
    finally {
      cell.fold = null
      sc.setJobDescription(caller)
    }
  }

  private def release(): Unit = { blocks.unpersist(blocking = false); () }
}

private[ml] object PointScan {

  /** Runs `body` over a scan of `points`' lat, lon and cnt, then releases
    * the scan's blocks. */
  def using[A](points: DataFrame, label: String)(body: PointScan => A): A = {
    val scan = new PointScan(points, label)
    try body(scan) finally scan.release()
  }

  /** The current pass's fold, shipped to the tasks inside each job's task
    * binary. */
  private final class Cell extends Serializable {
    @volatile var fold: PointBlock => Serializable = _

    def run(block: PointBlock): Array[Byte] = {
      val f = fold
      require(f != null, "a k-means pass ran without a fold")
      val bytes = new ByteArrayOutputStream()
      val out = new ObjectOutputStream(bytes)
      out.writeObject(f(block))
      out.close()
      bytes.toByteArray
    }
  }

  private def decode(bytes: Array[Byte]): AnyRef = {
    val in = new ObjectInputStream(new ByteArrayInputStream(bytes))
    try in.readObject() finally in.close()
  }
}
