package recordbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** Row count plus an order-independent 64-bit hash of a frame's rows.
  * Values hash by their canonical text, so an int and a long of the
  * same value agree, and the oracle need not match the job's column
  * types exactly. */
final case class Fingerprint(rows: Long, hash: Long) {
  def +(o: Fingerprint): Fingerprint = Fingerprint(rows + o.rows, hash + o.hash)
}

object Fingerprint {
  val empty: Fingerprint = Fingerprint(0, 0)

  private def render(v: Any): String = v match {
    case null => "\u0000"
    case b: Array[Byte] => java.util.HexFormat.of().formatHex(b)
    case d: Double => java.lang.Double.toString(d)
    case other => other.toString
  }

  def ofValues(vs: Seq[Any]): Fingerprint = {
    val s = vs.map(render).mkString("\u0001")
    val h = (MurmurHash3.stringHash(s, 17).toLong << 32) ^
      (MurmurHash3.stringHash(s, 91).toLong & 0xffffffffL)
    Fingerprint(1, h)
  }

  def ofRdd(rdd: RDD[Seq[Any]]): Fingerprint =
    rdd.mapPartitions { it =>
      var f = empty
      it.foreach(r => f = f + ofValues(r))
      Iterator(f)
    }.collect().foldLeft(empty)(_ + _)

  private def getter(dt: DataType, i: Int): InternalRow => Any = dt match {
    case LongType => r => if (r.isNullAt(i)) null else r.getLong(i)
    case IntegerType => r => if (r.isNullAt(i)) null else r.getInt(i)
    case DoubleType => r => if (r.isNullAt(i)) null else r.getDouble(i)
    case StringType => r => if (r.isNullAt(i)) null else r.getUTF8String(i).toString
    case BinaryType => r => if (r.isNullAt(i)) null else r.getBinary(i)
    case BooleanType => r => if (r.isNullAt(i)) null else r.getBoolean(i)
    case other => sys.error(s"fingerprint: unsupported column type $other")
  }

  /** Forces `df`'s executed plan (every stage, including a final sort)
    * and fingerprints its output rows in the same pass. */
  def force(df: DataFrame): Fingerprint = {
    val gets = df.schema.fields.zipWithIndex.map { case (f, i) => getter(f.dataType, i) }
    ofRdd(df.queryExecution.toRdd.map(r => gets.toSeq.map(_(r))))
  }
}
