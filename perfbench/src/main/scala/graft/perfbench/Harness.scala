package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.engine.Lineage
import graft.spark.{GraftBucketedInputPartition, GraftInputPartition}

/** Op accounting shared by the workloads. An op that throws is counted as
  * failed and its time is dropped — it never enters a timing. Warm-up ops
  * (`counting = false`) are neither counted nor timed. A check that
  * disagrees with the benchmark's own model marks the run incorrect. */
final class OpLog(val tracer: Tracer) {
  val attempted: mutable.LinkedHashMap[String, Int] = mutable.LinkedHashMap.empty
  val failed: mutable.LinkedHashMap[String, Int] = mutable.LinkedHashMap.empty
  val timesMs: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  val mismatches: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  var counting = false

  def run[A](op: String)(f: => A): Option[A] = {
    if (counting) attempted(op) = attempted.getOrElse(op, 0) + 1
    val t0 = System.nanoTime()
    try {
      val a = tracer.span(s"op.$op")(f)
      if (counting)
        timesMs.getOrElseUpdate(op, mutable.ArrayBuffer.empty) +=
          (System.nanoTime() - t0) / 1e6
      Some(a)
    } catch {
      case NonFatal(e) =>
        if (counting) failed(op) = failed.getOrElse(op, 0) + 1
        System.err.println(s"[perfbench] op $op failed: $e")
        None
    }
  }

  def check(mismatch: Option[String]): Unit = mismatch.foreach { what =>
    mismatches += what
    System.err.println(s"[perfbench] CHECK FAILED: $what")
  }

  def times(op: String): Seq[Double] = timesMs.get(op).map(_.toSeq).getOrElse(Nil)
  def totalAttempted: Int = attempted.values.sum
  def totalFailed: Int = failed.values.sum
}

/** Spark-side helpers: a query runs as plan (to `executedPlan`) then
  * execute, each its own span, and the executed plan's scan reports how
  * many input partitions and graft chunks it planned. */
final class SparkOps(val spark: SparkSession, log: OpLog)
    extends AdaptiveSparkPlanHelper {
  private val planned = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Int, Int)]]

  def query[A](op: String, df: DataFrame)(act: DataFrame => A): A = {
    val plan = log.tracer.span(s"spark.$op.plan")(df.queryExecution.executedPlan)
    val a = log.tracer.span(s"spark.$op.exec")(act(df))
    if (log.tracer.on) {
      val scans = collect(plan) { case b: BatchScanExec => b.inputPartitions }
      val chunks = scans.flatten.map {
        case p: GraftInputPartition => p.rows.length
        case p: GraftBucketedInputPartition => p.p.rows.length
        case _ => 0
      }
      planned.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += (scans.map(_.size).sum -> chunks.sum)
    }
    a
  }

  def collectRows(op: String, df: DataFrame): Array[Row] = query(op, df)(_.collect())

  /** (input partitions, chunks) each traced query of `op` planned. */
  def planned(op: String): Seq[(Int, Int)] =
    planned.get(op).map(_.toSeq).getOrElse(Nil)

  def read(dir: String): DataFrame = spark.read.format("graft").load(dir)
}

object Files {
  def tree(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(dir))
  }
  /** Bytes of the table's data and manifest files (what the table stores). */
  def tableBytes(dir: String): Long =
    (tree(s"$dir/data") ++ tree(s"$dir/_lineage")).map(_.length).sum
  def tableFiles(dir: String): Int = tree(dir).size
  def manifestBytes(dir: String): Long =
    tree(s"$dir/_lineage").filter(_.getName.endsWith(".json")).map(_.length).sum
  def delete(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir)): Unit

  def manifest(spark: SparkSession, dir: String): Array[Lineage.ManifestRow] =
    Lineage.readManifestLocal(spark.sparkContext.hadoopConfiguration, dir,
      Long.MaxValue)._2.get
}
