package graft.storage

import graft.model.LineageRow
import org.apache.spark.sql.{Dataset, SparkSession}
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Per-partition lineage/metrics table (north_rule: every stage writes
  * per-partition lineage rows — input snapshot id, partition hash, span
  * counts, divergence — so the job resumes from the last committed
  * checkpoint without recomputation).
  *
  * Rows are appended one file per committed bucket group via atomic rename,
  * so a kill between groups leaves a consistent, readable table.
  */
object Lineage {

  def dir(root: String): String = s"$root/lineage"

  def append(spark: SparkSession, root: String, rows: Seq[LineageRow]): Unit = {
    import spark.implicits._
    val d = dir(root)
    Files.createDirectories(Paths.get(d))
    val groupId = rows.map(_.partition_id).min
    val tmp = s"$root/.lineage-tmp-$groupId"
    spark.createDataset(rows).coalesce(1).write.mode("overwrite").parquet(tmp)
    val listing = Files.list(Paths.get(tmp))
    val part =
      try listing.filter(_.toString.endsWith(".parquet")).findFirst().get()
      finally listing.close() // Files.list holds a directory fd until closed
    Files.move(part, Paths.get(s"$d/group-$groupId.parquet"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  def read(spark: SparkSession, root: String): Dataset[LineageRow] = {
    import spark.implicits._
    val d = dir(root)
    val isEmpty = !Files.exists(Paths.get(d)) || {
      val listing = Files.list(Paths.get(d))
      try !listing.findFirst().isPresent finally listing.close()
    }
    if (isEmpty)
      spark.emptyDataset[LineageRow]
    else {
      // schema tolerance, two axes — read with the CURRENT encoder schema
      // pinned so every group file is decoded against it:
      //  - lineage written before `error_count` existed yields nulls for it
      //    (absent parquet column), coalesced to zero below;
      //  - lineage written while `partition_id` was an Int arrives as
      //    parquet INT32 and widens to the declared Long (parquet type
      //    widening) — a footer-inferred schema over a MIXED directory
      //    would instead pick whichever file lists first and misread the
      //    rest, aborting the exact job this table makes resumable.
      val raw = spark.read
        .schema(org.apache.spark.sql.Encoders.product[LineageRow].schema)
        .parquet(d)
      raw.withColumn("error_count",
          org.apache.spark.sql.functions.coalesce(
            raw("error_count"), org.apache.spark.sql.functions.lit(0L)))
        .as[LineageRow]
    }
  }

  /** A run's input snapshot id: a stable 63-bit hash (SHA-256 prefix) of
    * the values that determine its input, so a rerun over other input
    * cannot pass for a resume of this one.
    */
  def inputId(parts: Any*): Long = {
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(parts.mkString("\u0000").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(digest).getLong & Long.MaxValue
  }

  /** The rows committed under `root`, by partition id, all of input
    * snapshot `snapshotId`. A row of another snapshot throws: skipping its
    * unit as done would keep stale output, and redoing the rest would mix
    * two inputs in one table.
    */
  def committed(spark: SparkSession, root: String, snapshotId: Long): Map[Long, LineageRow] = {
    val rows = read(spark, root).collect()
    rows.find(_.snapshot_id != snapshotId).foreach { r =>
      throw new IllegalStateException(s"${dir(root)} holds input snapshot ${r.snapshot_id}, " +
        s"this run's input is snapshot $snapshotId: write to another output directory")
    }
    rows.map(r => r.partition_id -> r).toMap
  }

  /** Buckets already committed — the resume filter is a left-anti join of the
    * work list against this set.
    */
  def committedPartitions(spark: SparkSession, root: String): Set[Long] = {
    import spark.implicits._
    read(spark, root).map(_.partition_id).collect().toSet
  }
}
