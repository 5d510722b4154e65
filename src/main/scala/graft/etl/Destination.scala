package graft.etl

import java.io.{FileNotFoundException, IOException}
import java.util.UUID

import scala.annotation.tailrec

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Fs

/** How a destination sits on disk, in one place: the code that writes
  * or reads this layout, on any Hadoop filesystem, is here. (Spark's
  * streaming file sink also partitions by date; its own
  * `_spark_metadata` log governs that directory.)
  *  - `export_date=<day>/` — the partitions ETL runs append to; Exact
  *    files are named `<run tag>-<name>` ([[appendRun]]).
  *  - `_staging_<tag>/` — a stage inside the destination, so publishing
  *    it is a rename on one filesystem; Spark's reader skips `_` names.
  *  - `_manifests/<batch>.manifest` — the WAP ledger, one manifest per
  *    published batch naming its files relative to the destination
  *    ([[publishStaged]]); `_manifests/<branch>/` holds a branch's.
  */
object Destination {

  /** The column ETL runs partition by: one directory per event date. */
  val PartitionCol = "export_date"

  /** A directory's entries; a missing directory lists empty. */
  private def list(fs: FileSystem, dir: Path): Seq[FileStatus] =
    try fs.listStatus(dir).toSeq catch { case _: FileNotFoundException => Nil }

  /** Scan a destination: its data files, with each `col=value` directory
    * level as a column (Spark's partition discovery).
    */
  def scan(spark: SparkSession, dir: String): DataFrame = spark.read.parquet(dir)

  /** The rows ETL runs loaded: [[scan]] without the layout column. */
  def read(spark: SparkSession, dir: String): DataFrame = scan(spark, dir).drop(PartitionCol)

  /** Parity mode's load: Spark's append into the partition directories. */
  def append(df: DataFrame, dir: String): Unit =
    df.write.mode(SaveMode.Append).partitionBy(PartitionCol).parquet(dir)

  /** Exact mode's load: an append whose files are named `<tag>-<name>`,
    * after a roll-back by that tag. The caller picks the tag so that no
    * committed file carries it, and `fromDate`, the first partition an
    * attempt under the tag can have written ("" for no lower bound;
    * [[EtlJob.Mode]]).
    *
    * Roll-back deletes what an unfinished attempt under the tag may have
    * left: the stage `dir/_staging_<tag>` and every `<tag>-*` file in the
    * partitions dated on or after `fromDate`. Then `out`, when there is
    * one, is written into that stage and each staged file moves into its
    * partition as `<tag>-<name>` ([[publishFiles]]); the emptied stage is
    * deleted. No committed file is read, rewritten or deleted. The
    * roll-back only finds files named after the tag, so a maintenance
    * writer ([[replacePartitions]]) must not run between a crashed attempt
    * and its replay: it would re-encode the crashed rows into untagged
    * files.
    */
  def appendRun(spark: SparkSession, out: Option[DataFrame], dir: String,
                tag: String, fromDate: String): Unit = {
    val (f, destPath) = Fs.fs(spark, dir)
    val stagePath = new Path(destPath, s"_staging_$tag")
    f.delete(stagePath, true)
    list(f, destPath)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$PartitionCol=") &&
        st.getPath.getName.stripPrefix(s"$PartitionCol=") >= fromDate)
      .flatMap(st => list(f, st.getPath))
      .filter(_.getPath.getName.startsWith(s"$tag-"))
      .foreach(st => f.delete(st.getPath, false))
    out.foreach { df =>
      df.write.mode(SaveMode.Overwrite).partitionBy(PartitionCol).parquet(stagePath.toString)
      publishFiles(spark, stagePath.toString, dir, tag)
      f.delete(stagePath, true)
    }
  }

  /** Move every `part-` file staged under `stageDir`, at its top level or
    * in a `col=value` subdirectory, into the same place under `dir` as
    * `<prefix>-<name>`. One rename per file — a metadata move on HDFS and
    * local disk. Renames are idempotent on these deterministic names: a
    * failed rename whose target exists was done by a racing publisher of
    * the same stage, and counts as done. Returns the published names
    * relative to `dir`.
    */
  def publishFiles(spark: SparkSession, stageDir: String, dir: String,
                   prefix: String): Seq[String] = {
    val (f, destPath) = Fs.fs(spark, dir)
    def walk(from: Path, into: Path, rel: String): Seq[String] = {
      f.mkdirs(into)
      f.listStatus(from).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (st.isDirectory && name.contains("=")) walk(st.getPath, new Path(into, name), s"$rel$name/")
        else if (st.isDirectory || !name.startsWith("part-")) Nil
        else {
          val to = new Path(into, s"$prefix-$name")
          if (!f.rename(st.getPath, to) && !f.exists(to))
            throw new IOException(s"publish failed for ${st.getPath}")
          Seq(s"$rel${to.getName}")
        }
      }
    }
    walk(new Path(stageDir), destPath, "")
  }

  /** Replace the partitions of `dir` that `df` holds rows for, leaving
    * every other partition's files untouched. `df` is written,
    * partitioned, into one hidden `_staging_<uuid>` directory inside
    * `dir` (same filesystem, so the swap is a metadata move). `df`
    * may read `dir` itself: nothing there changes until the write has
    * finished. A failed write deletes the stage and rethrows, leaving
    * `dir`'s partitions as they were (a missing `dir` is left behind
    * empty).
    * Each staged `col=value` directory is then swapped in by deleting the
    * old one and renaming the new one, the two steps Spark's
    * dynamic-overwrite commit takes. A reader that lists a partition
    * between those two steps finds it absent; nothing is atomic across
    * partitions. Returns the replaced values as they appear in the
    * directory names, sorted. Only the maintenance writers (compaction,
    * tombstone deletes, backfill) replace partitions; ETL runs append.
    */
  def replacePartitions(spark: SparkSession, df: DataFrame, dir: String): Seq[String] = {
    val (f, destPath) = Fs.fs(spark, dir)
    val stagePath = new Path(destPath, s"_staging_${UUID.randomUUID()}")
    try df.write.mode(SaveMode.Overwrite).partitionBy(PartitionCol).parquet(stagePath.toString)
    catch {
      case e: Throwable =>
        f.delete(stagePath, true)
        throw e
    }
    val replaced = f.listStatus(stagePath).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$PartitionCol="))
      .map { st =>
        val to = new Path(destPath, st.getPath.getName)
        f.delete(to, true)
        require(f.rename(st.getPath, to), s"partition swap rename failed: ${st.getPath} -> $to")
        st.getPath.getName.stripPrefix(s"$PartitionCol=")
      }
    f.delete(stagePath, true) // _SUCCESS marker + emptied scaffold
    replaced.sorted
  }

  /** Compact a date-partitioned destination: every incremental run
    * appends `shuffle.partitions` small files per touched partition, and at
    * 100 TB the accumulated small files dominate scan planning and NameNode
    * pressure. Rewrites each partition into ~`targetBytes`-sized files and
    * swaps them in with [[replacePartitions]], which encodes the rows once
    * and moves each partition in by rename. Returns (files before, files
    * after).
    *
    * Precondition on an Exact-mode destination: every tenant's last run
    * committed. Compaction writes untagged files, so a crashed Exact
    * attempt's rows compacted before its replay could no longer be rolled
    * back by name and would load twice ([[EtlJob.Mode]]).
    *
    * At cluster scale this runs as periodic maintenance over recent
    * partitions only — date pruning keeps the rewrite proportional to the
    * compaction window, not the table's history.
    */
  def compactDatePartitions(spark: SparkSession, dir: String,
                            targetBytes: Long = 128L * 1024 * 1024): (Long, Long) = {
    // Hadoop FileSystem, not java.nio: the destination is HDFS/S3 at scale.
    // One recursive listing serves both the file count and the byte total —
    // each listing is a full remote round-trip on HDFS/S3.
    val beforeFiles = Fs.listParquetFiles(spark, dir)
    val before = beforeFiles.size.toLong
    val totalBytes = beforeFiles.map(_._2).sum
    val nParts = math.max(1, (totalBytes / targetBytes).toInt)
    replacePartitions(spark, scan(spark, dir).repartition(nParts, col(PartitionCol)), dir)
    (before, Fs.listParquetFiles(spark, dir).size.toLong)
  }

  /** Copy-on-write deletion propagation through a date-partitioned store:
    * anti-join the tombstone keys out of EXACTLY the partitions that
    * contain a hit, leaving every other partition's files untouched. One
    * partition-pruned scan writes the affected partitions' survivors
    * through [[replacePartitions]]; a partition that lost every row has
    * nothing staged, so it is dropped after the swap. Like compaction, it
    * writes untagged files, so on an Exact-mode destination it runs only
    * while every tenant's last run committed ([[compactDatePartitions]]).
    * Cost is O(affected partitions), never O(history) — the shape a
    * takedown/right-to-be-forgotten sweep needs on a 100 TB corpus, where
    * deletion demands arrive daily but touch a sliver of the store.
    * Returns the affected-partition values (the audit ledger entry).
    */
  def deleteFromDatePartitions(spark: SparkSession, dir: String,
                               tombstones: DataFrame, keyCol: String): Seq[String] = {
    val snapshot = scan(spark, dir)
    val affected = snapshot.join(broadcast(tombstones), Seq(keyCol), "left_semi")
      .select(col(PartitionCol).cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    if (affected.nonEmpty) {
      val swapped = replacePartitions(spark, snapshot
        .where(col(PartitionCol).isin(affected: _*))
        .join(broadcast(tombstones), Seq(keyCol), "left_anti"), dir)
      dropPartitions(spark, dir)(affected.diff(swapped).toSet)
    }
    affected
  }

  /** Delete every partition directory whose value `drop` selects —
    * O(dropped partitions) filesystem calls, never a rewrite of surviving
    * data, never a row-level scan (retention is metadata work).
    */
  def dropPartitions(spark: SparkSession, dir: String)(drop: String => Boolean): Unit = {
    val (f, destPath) = Fs.fs(spark, dir)
    list(f, destPath).map(_.getPath).filter(p => p.getName.startsWith(s"$PartitionCol=") &&
      drop(p.getName.stripPrefix(s"$PartitionCol="))).foreach(f.delete(_, true))
  }

  /** Write-Audit-Publish: batches land in a per-batch staging directory,
    * an audit gate compares what is actually ON DISK against the
    * extraction's own claim, and only audited batches are published into
    * the live destination — the lakehouse WAP discipline that keeps a
    * torn or short write invisible to readers forever, instead of until
    * someone notices. Key properties: the audit reads the STAGED files
    * (exactly what readers would see), never the writer's in-memory
    * belief; publish is a rename per part-file — O(files) metadata ops,
    * no data movement on HDFS-like stores (object stores substitute a
    * manifest/metadata swap, same contract); a rejected batch stays
    * quarantined in staging with its files intact, so the retry path is
    * re-audit + publish, not re-extract. Returns the published row count
    * or the audit failure.
    */
  def writeAuditPublish(spark: SparkSession, dir: String, stagingRoot: String,
                        batchId: String, batch: DataFrame,
                        claimedRows: Long): Either[String, Long] = {
    val stageDir = s"$stagingRoot/$batchId"
    batch.write.mode(SaveMode.Overwrite).parquet(stageDir)
    publishStaged(spark, dir, stageDir, batchId, claimedRows)
  }

  /** Audit + publish of an ALREADY-staged batch (the retry half of WAP —
    * a batch rejected over a bad claim republishes without re-extraction).
    * The manifest commits to `branch`'s ledger (main when None), so a
    * branch publish stays invisible to main readers until a merge.
    *
    * Concurrency contract: batch ids are unique per logical batch, but two
    * publishers MAY race on the same id (a retried driver plus a zombie of
    * its first attempt). The path is safe for that race because every step
    * is idempotent on deterministic names: target file names derive from
    * (batchId, staged part name), so a rename that fails WITH the target
    * present means the racer moved it — success either way; and the
    * manifest is committed create-if-absent, so exactly one writer wins
    * the ledger and the loser acks from the committed manifest. What the
    * contract does NOT allow is two publishers staging DIFFERENT data
    * under one batchId — that is a batch-identity violation upstream, not
    * a race this layer can resolve.
    */
  def publishStaged(spark: SparkSession, dir: String, stageDir: String,
                    batchId: String, claimedRows: Long,
                    branch: Option[String] = None): Either[String, Long] = {
    val mDir = manifestDir(dir, branch)
    // the manifest is the COMMIT POINT — check it first. A retry after a
    // crash-between-publish-and-ack would otherwise find an empty staging
    // dir (the files already moved) and overwrite the good manifest with
    // an empty one: silent snapshot data loss. With the check, such a
    // retry is an idempotent success acked from the committed manifest.
    // (A crash MID-rename leaves moved files invisible to readAsOf —
    // they're not in any manifest — so snapshot readers stay consistent;
    // recovery is re-staging the batch under the same id.)
    val committed = manifest(spark, mDir, batchId)
    if (committed.isDefined)
      return Right(scanFiles(spark, dir, committed.get, s"batch $batchId").count())
    val n = spark.read.parquet(stageDir).count()
    if (n != claimedRows)
      Left(s"audit rejected batch $batchId: staged=$n claimed=$claimedRows")
    else {
      // target names derive from (batchId, staged part name): a racing
      // publisher of the same staged batch moves the same files
      val published = publishFiles(spark, stageDir, dir, batchId)
      // snapshot ledger: one manifest per published batch (the `_` prefix
      // keeps Spark's reader from scanning it as data). Time travel reads
      // the union of manifests ≤ the wanted snapshot — metadata only.
      // Create-if-absent: the FIRST publisher commits; a lost race means a
      // racer already committed this batch's (identical) file list, so
      // fall through to the same idempotent ack either way.
      Fs.writeSmallTextIfAbsent(spark, s"$mDir/$batchId.manifest",
        published.sorted.mkString("\n"))
      Right(n)
    }
  }

  /** Read the destination AS OF a set of published batches: the union of
    * their manifests names exactly the files to scan — no directory
    * listing of the data, no tombstones, no rewrite; a snapshot is just
    * a subset of immutable files. This is the simplified shape of table-
    * format time travel (a manifest per commit, readers pick a manifest
    * set); at warehouse scale the manifest list itself comes from a
    * catalog pointer instead of the caller.
    */
  def readAsOf(spark: SparkSession, dir: String, batchIds: Seq[String]): DataFrame =
    scanFiles(spark, dir, batchIds.distinct.flatMap(onMain(spark, dir, _)),
      s"snapshot over batches ${batchIds.mkString("[", ",", "]")}")

  /** Zero-copy BRANCHES over the manifest ledger — the experiment-isolation
    * workflow ("try the new filter on a branch, diff, merge") without
    * copying a byte of data: a branch is a directory of manifest files
    * under `_manifests/<branch>/`; creating one copies the chosen batches'
    * manifests (KBs), branch publishes land their manifests there, and
    * MAIN readers never see them until merge adopts the manifest files.
    * All data files stay flat and immutable in the destination — shared
    * by every branch. Merge is fast-forward adoption by batch id (ids
    * already on main are skipped — the idempotent replay rule again);
    * divergent meanings for one id are excluded by the same
    * unique-batch-id discipline publishing already requires.
    */
  def createBranch(spark: SparkSession, dir: String, branch: String,
                   fromBatches: Seq[String]): Unit =
    fromBatches.distinct.foreach { b =>
      Fs.writeSmallTextAtomic(spark, s"${manifestDir(dir, Some(branch))}/$b.manifest",
        onMain(spark, dir, b).mkString("\n"))
    }

  /** Read a branch's committed view (its manifest set over the shared
    * immutable files). `branch = None` reads main.
    */
  def readBranch(spark: SparkSession, dir: String, branch: Option[String]): DataFrame =
    // a fresh destination / just-created empty branch has no manifests —
    // fail with the snapshot's name, not a schema-inference error
    scanFiles(spark, dir, ledger(spark, dir, branch).flatMap(_._2),
      s"branch ${branch.getOrElse("main")}")

  /** Fast-forward merge: adopt the branch's manifests onto main, skipping
    * batch ids main already has. Returns the adopted ids.
    */
  def mergeBranch(spark: SparkSession, dir: String, branch: String): Seq[String] = {
    val mDir = manifestDir(dir, None)
    val onMain = manifestIds(spark, mDir).toSet
    val adopted = ledger(spark, dir, Some(branch)).filterNot(e => onMain(e._1))
    adopted.foreach { case (b, files) =>
      Fs.writeSmallTextAtomic(spark, s"$mDir/$b.manifest", files.mkString("\n"))
    }
    adopted.map(_._1)
  }

  /** Compact the MAIN manifest ledger: N per-batch manifests → ONE
    * consolidated manifest naming the union of their files. Data files
    * never move — this is pure metadata maintenance, the ledger twin of
    * [[compactDatePartitions]]: a long-lived destination accretes one
    * manifest per publish, and at warehouse scale snapshot planning
    * becomes O(#manifests) remote reads (table formats compact manifest
    * lists for exactly this reason). Ordering makes the swap reader-safe
    * with no lock: the consolidated manifest is committed (create-if-
    * absent) BEFORE the originals are deleted. A ledger reader that lists
    * the originals and then finds one gone lists again, and that listing
    * holds the consolidated manifest; one that lists both the originals
    * and the consolidated manifest scans each file once. So a reader
    * interleaving anywhere sees the same files. Batch-id TIME TRAVEL over
    * compacted-away ids is intentionally released (the retention trade
    * every format makes: compaction/vacuum erase rewind granularity);
    * branches are untouched. Returns (manifests before, manifests after).
    */
  def compactManifests(spark: SparkSession, dir: String): (Long, Long) = {
    val mDir = manifestDir(dir, None)
    val entries = ledger(spark, dir, None)
    if (entries.size <= 1) return (entries.size.toLong, entries.size.toLong)
    val union = entries.flatMap(_._2).distinct.sorted
    val compactId = s"compact-${entries.map(_._1).mkString("_").hashCode.toHexString}"
    Fs.writeSmallTextIfAbsent(spark, s"$mDir/$compactId.manifest", union.mkString("\n"))
    val (f, mPath) = Fs.fs(spark, mDir)
    entries.foreach { case (b, _) => f.delete(new Path(mPath, s"$b.manifest"), false) }
    (entries.size.toLong, manifestIds(spark, mDir).size.toLong)
  }

  /** The main ledger as `GRAFT HISTORY` shows it: one (batch id, file
    * count, row count) per manifest, by batch id. File counts come from
    * the manifests alone; row counts scan exactly the files each one names.
    */
  def history(spark: SparkSession, dir: String): Seq[(String, Int, Long)] =
    ledger(spark, dir, None).map { case (b, files) =>
      (b, files.size, if (files.isEmpty) 0L else scanFiles(spark, dir, files, s"batch $b").count())
    }

  /** The data files of a flat (WAP) destination that no main manifest
    * names: what a publish that crashed between its renames and its
    * manifest leaves behind.
    */
  def orphanFiles(spark: SparkSession, dir: String): Seq[String] = {
    val committed = ledger(spark, dir, None).flatMap(_._2).toSet
    val (f, destPath) = Fs.fs(spark, dir)
    list(f, destPath).map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") && !committed(n)).sorted
  }

  /** Listings a ledger read takes before it gives up. */
  private val LedgerListings = 5

  private def manifestDir(dir: String, branch: Option[String]): String =
    branch.fold(s"$dir/_manifests")(b => s"$dir/_manifests/$b")

  /** The manifest ids in `mDir`, sorted; none when it does not exist. */
  private def manifestIds(spark: SparkSession, mDir: String): Seq[String] = {
    val (f, p) = Fs.fs(spark, mDir)
    list(f, p).map(_.getPath.getName).filter(_.endsWith(".manifest"))
      .map(_.stripSuffix(".manifest")).sorted
  }

  /** The files one manifest names, relative to the destination; None
    * when it does not exist.
    */
  private def manifest(spark: SparkSession, mDir: String, id: String): Option[Seq[String]] =
    Fs.readSmallText(spark, s"$mDir/$id.manifest").map(_.split("\n").filter(_.nonEmpty).toSeq)

  /** The files batch `b`'s main manifest names; it must exist. */
  private def onMain(spark: SparkSession, dir: String, b: String): Seq[String] =
    manifest(spark, manifestDir(dir, None), b)
      .getOrElse(throw new IllegalArgumentException(s"no manifest for batch $b at $dir"))

  /** Every committed manifest of `branch` (main when None) with its files,
    * from one listing whose manifests all could be read. A manifest that
    * is gone by the time it is read was compacted away after the listing;
    * compaction commits its consolidated manifest first, so the next
    * listing holds it.
    */
  private def ledger(spark: SparkSession, dir: String,
                     branch: Option[String]): Seq[(String, Seq[String])] = {
    val mDir = manifestDir(dir, branch)
    @tailrec def attempt(n: Int): Seq[(String, Seq[String])] = {
      val ids = manifestIds(spark, mDir)
      val read = ids.iterator.map(id => id -> manifest(spark, mDir, id))
        .takeWhile(_._2.isDefined).map { case (id, files) => id -> files.get }.toSeq
      if (read.size == ids.size) read
      else if (n < LedgerListings) attempt(n + 1)
      else throw new IllegalStateException(
        s"manifest ledger at $mDir changed under each of $LedgerListings listings")
    }
    attempt(1)
  }

  /** Scan exactly `files` (relative to `dir`), each once: a reader racing
    * manifest compaction can be handed the same file by two manifests.
    */
  private def scanFiles(spark: SparkSession, dir: String, files: Seq[String],
                        what: => String): DataFrame = {
    // zero paths would fail schema inference with an opaque "unable to
    // infer schema" — name the empty snapshot instead
    if (files.isEmpty)
      throw new IllegalArgumentException(s"$what at $dir names no data files")
    spark.read.parquet(files.distinct.map(f => s"$dir/$f"): _*)
  }
}
