package graft.storage

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Snapshot-committed parquet table format.
  *
  * North_rule names Iceberg; no Iceberg runtime jar ships offline (SURVEY.md
  * §7.0), so this is a minimal table format with Iceberg's *semantics* —
  * immutable snapshot directories, atomic manifest commit via rename,
  * time-travel read by snapshot id, and a latest pointer — behind a surface
  * small enough that swapping in `iceberg-spark-runtime` is a one-class
  * change (`commit` → `writeTo(...).createOrReplace`, `read` →
  * `VERSION AS OF`).
  *
  * Layout:
  * {{{
  *   root/snapshot-<id>/...parquet     immutable data
  *   root/snapshot-<id>.committed      commit marker (atomic rename)
  *   root/LATEST                       latest snapshot id (atomic rename)
  * }}}
  */
object Snapshots {

  def snapshotDir(root: String, id: Long): String = s"$root/snapshot-$id"

  /** Write `df` as snapshot `id` and atomically publish it. Optional
    * `partitionBy` columns become hive-style partition directories, so a
    * reader filtering on them gets a PRUNED scan (the IVF posting-list
    * layout: probe reads touch only the probed centroids' directories).
    */
  def commit(df: DataFrame, root: String, id: Long,
             partitionBy: Seq[String] = Nil): Unit = {
    stage(df, root, id, partitionBy)
    publish(root, id)
  }

  /** Write snapshot `id`'s data WITHOUT publishing — no commit marker, no
    * LATEST flip, so readers keep the previous snapshot. A caller that
    * must VERIFY the written bytes before exposing them (CompactJob's
    * checksum gate) stages, checks, then [[publish]]es; a crash or a
    * failed check leaves only an invisible directory the next run
    * overwrites.
    */
  def stage(df: DataFrame, root: String, id: Long,
            partitionBy: Seq[String] = Nil): Unit = {
    // immutability backstop: a COMMITTED snapshot may be concurrently
    // time-travel read, so overwriting its directory would tear those
    // reads; a correct caller never picks a committed id ([[latest]] is
    // marker-derived), so reaching this is a bug worth a loud stop
    require(!isCommitted(root, id),
      s"snapshot $id under $root is committed — snapshot directories are immutable")
    val dir = snapshotDir(root, id)
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(dir)
  }

  /** Atomically publish a previously [[stage]]d snapshot: commit marker,
    * then the LATEST pointer (each an atomic rename).
    */
  def publish(root: String, id: Long): Unit = {
    val marker = Paths.get(s"$root/snapshot-$id.committed")
    val tmp = Paths.get(s"$root/.snapshot-$id.committing")
    Files.createDirectories(Paths.get(root))
    Files.writeString(tmp, java.lang.Long.toString(id))
    Files.move(tmp, marker, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    val latestTmp = Paths.get(s"$root/.LATEST.tmp")
    Files.writeString(latestTmp, java.lang.Long.toString(id))
    Files.move(latestTmp, Paths.get(s"$root/LATEST"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def isCommitted(root: String, id: Long): Boolean =
    Files.exists(Paths.get(s"$root/snapshot-$id.committed"))

  /** Time-travel read of a committed snapshot. */
  def read(spark: SparkSession, root: String, id: Long): DataFrame = {
    require(isCommitted(root, id), s"snapshot $id not committed under $root")
    spark.read.parquet(snapshotDir(root, id))
  }

  /** Latest committed snapshot id. Derived from the COMMIT MARKERS, not
    * the `LATEST` file: the marker rename is the single atomic publish
    * point, and the pointer is written after it — a crash between the two
    * renames must not resurrect the previous snapshot (the next run would
    * compute the same new id and overwrite a committed, possibly
    * concurrently-read directory in place). `LATEST` stays as a
    * human-readable convenience pointer.
    */
  def latest(root: String): Option[Long] = {
    val dir = Paths.get(root)
    if (!Files.exists(dir)) return None
    val re = "snapshot-(\\d+)\\.committed".r
    val listing = Files.list(dir)
    try {
      var max = Option.empty[Long]
      listing.forEach { p =>
        p.getFileName.toString match {
          case re(id) =>
            // a digit run beyond Long range is not a snapshot this code ever
            // wrote (ids are Longs) — a stray/corrupt marker-shaped file must
            // be IGNORED like any other foreign file, not abort every job
            // that resolves the table's latest snapshot
            try {
              val v = id.toLong
              if (!max.exists(_ >= v)) max = Some(v)
            } catch { case _: NumberFormatException => () }
          case _ => ()
        }
      }
      max
    } finally listing.close()
  }
}
