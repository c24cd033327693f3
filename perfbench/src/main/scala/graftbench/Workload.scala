package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** One timed operation: a layer call of a batch pass. */
final case class OpRec(kind: String, seconds: Double, ok: Boolean)

/** A named batch workload. `step(i)` is the closed loop's unit of
  * work: one whole pass over the generated inputs. Each operation of a
  * pass checks its own output and records a failure when the output is
  * wrong or the call throws.
  */
abstract class Workload(val spark: SparkSession, val t: Tracer, val dir: String,
                        val seed: Long, val wrongExpected: Boolean) {
  val ops = mutable.ArrayBuffer[OpRec]()

  /** Generate the inputs and write them under `dir`. Runs several times
    * in setup; each run starts from an empty `dir`.
    */
  def prepare(): Unit
  /** Compute the expected answers from the written inputs; once, after
    * the last [[prepare]].
    */
  def expect(): Unit = ()
  def step(i: Int): Unit
  /** Work units of one pass: input megapixels or thousands of documents. */
  def unitsPerStep: Double
  /** Workload-specific per-layer figures, read after the traced pass. */
  def extras(): Map[String, Double] = Map.empty

  protected def op(kind: String)(body: => Boolean): Unit = {
    val t0 = System.nanoTime()
    val ok = try body catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $kind failed: $e")
        e.printStackTrace()
        false
    }
    if (!ok) System.err.println(s"[perfbench] $kind: wrong output")
    ops += OpRec(kind, (System.nanoTime() - t0) / 1e9, ok)
  }

  /** Results recorded on the first execution of an operation in a run;
    * later passes must reproduce them.
    */
  private val firstSeen = mutable.Map[String, Seq[Any]]()
  protected def same(key: String, got: Seq[Any]): Boolean =
    firstSeen.getOrElseUpdate(key, got) == got

  protected def path(name: String): String = Paths.get(dir, name).toString
  protected def readParquet(name: String): DataFrame = spark.read.parquet(path(name))
}

object Workload {
  /** Row count and an order-independent hash of a frame's rows —
    * doubles rounded to 1e-6 so a last-ulp difference in an
    * order-sensitive fold cannot flip the digest.
    */
  def digest(df: DataFrame): DataFrame = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name).cast("double"), 6)
        case _ => col(f.name)
      }
    }
    df.agg(count(lit(1)).as("n"), bit_xor(xxhash64(cols: _*)).as("h"))
  }

  def row(rows: Array[Row]): Seq[Any] = rows.toSeq.flatMap(_.toSeq)

  def dirBytes(p: String): (Long, Long) = {
    val root = Paths.get(p)
    if (!Files.exists(root)) (0L, 0L)
    else {
      val files = Files.walk(root).iterator().asScala
        .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.endsWith(".crc"))
        .toSeq
      (files.size.toLong, files.map(f => Files.size(f)).sum)
    }
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(f => Files.deleteIfExists(f))
    }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
