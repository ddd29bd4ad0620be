package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** Maintenance for the parquet artifact stores (signature tables, span
  * sets, int8 vectors, IVF-PQ cells): the append lifecycle
  * ([[Dedup.minhashStoreAppend]], [[Dedup.spanSetStoredAppend]],
  * [[graft.streaming.NearDupStream.selfMaintaining]]) lands one file
  * set per batch, and 10⁴ batches mean 10⁴ small files — listing and
  * scan cost grows with batch COUNT instead of data size, the classic
  * small-files failure. [[compact]] rewrites a store into
  * size-targeted files while preserving its append markers, so the
  * loop can keep running against the compacted store. */
object Stores {

  /** The `path`'s filesystem from the session's Hadoop conf — the one
    * indirection that makes every store check/commit below work on any
    * Hadoop-visible filesystem (local, HDFS, object-store connectors),
    * not just `java.io.File`'s local disk. */
  def fileSystem(spark: SparkSession, path: String): FileSystem =
    new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Whether `path/name` exists (Hadoop FS). */
  def exists(spark: SparkSession, path: String, name: String): Boolean =
    fileSystem(spark, path).exists(new HPath(path, name))

  def requireStore(spark: SparkSession, path: String, hint: String): Unit =
    require(exists(spark, path, "_SUCCESS"), s"no store at $path — $hint")

  /** `path/name` joined in `path`'s OWN scheme — the string a store
    * sub-artifact (`weights/`, `grams/`, `bloom.bin`) must be addressed
    * by. `java.io.File` path math silently mangles a scheme'd URI
    * (`new File("file:/s", "x")` resolves under CWD), which is exactly
    * how local-only probes sneak back in. */
  def child(path: String, name: String): String =
    new HPath(path, name).toString

  /** Create the empty marker `path/name` (Hadoop FS, atomic create —
    * the commit-point primitive the swap/append protocols rely on). */
  def touch(spark: SparkSession, path: String, name: String): Unit =
    fileSystem(spark, path).create(new HPath(path, name), true).close()

  /** Write a small binary artifact `path/name` whole (Hadoop FS) —
    * model-sized payloads only (Bloom bit arrays, codebooks), never
    * data-sized. */
  def writeBytes(spark: SparkSession, path: String, name: String,
                 bytes: Array[Byte]): Unit = {
    val out = fileSystem(spark, path).create(new HPath(path, name), true)
    try out.write(bytes) finally out.close()
  }

  /** Read a small binary artifact `path/name` whole; None if absent. */
  def readBytes(spark: SparkSession, path: String,
                name: String): Option[Array[Byte]] = {
    val fs = fileSystem(spark, path)
    val p  = new HPath(path, name)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val tmp = new Array[Byte](8192)
        var n = in.read(tmp)
        while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
        Some(buf.toByteArray)
      } finally in.close()
    }
  }

  /** Fresh read of a MAINTAINED store — the stream-static consumer's
    * read primitive. `refreshByPath` first: Spark caches file listings
    * (and any cached plans) per path, so a monitor that scanned the
    * store in batch N can silently serve batch N's file set to batch
    * N+1 after ANOTHER writer appended — [[appendCommit]]'s own
    * refresh (step 6) only covers writes made through this session.
    * The refresh is a metadata-cache invalidation (no job), so the
    * per-batch cost is the read the consumer was doing anyway. Every
    * per-batch store re-read (DQ dimension probes, near-dup signature
    * stores, histogram merges) routes here so the stale-listing hazard
    * is fixed in ONE place. */
  def freshRead(spark: SparkSession, path: String)
      : org.apache.spark.sql.DataFrame = {
    spark.catalog.refreshByPath(path)
    spark.read.parquet(path)
  }

  /** The store tag of a Structured Streaming batch id — the one tag
    * format every streaming store maintainer writes
    * ([[graft.streaming.StoreLoop]]). Zero-padded so lexicographic tag
    * order equals batch order: the strictly-earlier reads
    * ([[Dedup.simhashStoreAppend]], [[Stats.ksDriftFromStoreBefore]],
    * the DQ dup-key probe) and the as-of reads ([[Quantiles.fromStoreAsOf]])
    * compare tags as strings, and bare ids would sort `batch_10 < batch_9`. */
  def batchTag(batchId: Long): String = f"batch_$batchId%09d"

  /** EXACTLY-ONCE batch append into a parquet store, replay- and
    * crash-safe where a bare `mode("append")` + marker is not: a crash
    * between the append and the marker write would double-post the
    * batch's rows on retry. Protocol (all steps idempotent, marker
    * LAST):
    *
    *  1. no-op if `_appended_<batchTag>` exists (redelivery);
    *  2. `write(stagingDir)` materializes the batch under
    *     `path/_staging_<batchTag>` (caller uses mode OVERWRITE so a
    *     partial previous attempt is replaced wholesale; the leading
    *     underscore hides the dir from parquet reads of `path`);
    *  3. any `append-<batchTag>-*` data files from a previous
    *     partially-renamed attempt are deleted (deterministic names
    *     make the cleanup exact);
    *  4. each staged data file renames into the store under
    *     `append-<batchTag>-<i>-<name>` — partition subdirectories
    *     (`cell=…`) are preserved relative to the staging root, so
    *     hive-partitioned stores keep pruning;
    *  5. the marker is created (the commit point), then staging is
    *     deleted.
    *
    * A crash anywhere before 5 leaves a retry that converges on the
    * identical file set; after 5, retries no-op. Single-writer per
    * batchTag (the store contract the streaming loops already hold). */
  def appendCommit(spark: SparkSession, path: String, batchTag: String)
                  (write: String => Unit): Unit = {
    val fs = fileSystem(spark, path)
    val store = new HPath(path)
    // heal a crashed rewrite FIRST: if a committed swap were left
    // pending, completing it after this append landed new files would
    // delete them (recovery keeps only the swap's own generation)
    recover(spark, path)
    val marker = new HPath(store, s"_appended_$batchTag")
    val staging = new HPath(store, s"_staging_$batchTag")
    if (fs.exists(marker)) {
      // Redelivery after a crash BETWEEN step 5's marker create and the
      // staging delete would otherwise leak the staged copy forever
      // (the underscore prefix hides it from reads, so nothing else
      // ever reclaims it). The delete is idempotent and still behind
      // the marker, so the commit semantics are unchanged.
      fs.delete(staging, true)
      return
    }
    write(staging.toString)
    val prefix = s"append-$batchTag-"
    def dataFilesUnder(root: HPath): Seq[(HPath, String)] = {
      def walk(p: HPath, rel: String): Seq[(HPath, String)] =
        fs.listStatus(p).toSeq.flatMap { st =>
          val name = st.getPath.getName
          if (st.isDirectory) {
            if (name.startsWith("_") || name.startsWith(".")) Nil
            else walk(st.getPath, if (rel.isEmpty) name else s"$rel/$name")
          } else if (name.startsWith("_") || name.startsWith(".")) Nil
          else Seq((st.getPath, rel))
        }
      walk(root, "")
    }
    // 3. exact cleanup of a prior partially-renamed attempt
    dataFilesUnder(store).foreach { case (p, _) =>
      if (p.getName.startsWith(prefix)) fs.delete(p, false)
    }
    // 4. stage → store renames (deterministic names, relative dirs kept)
    dataFilesUnder(staging).sortBy { case (p, rel) => (rel, p.getName) }
      .zipWithIndex.foreach { case ((p, rel), i) =>
        val destDir = if (rel.isEmpty) store else new HPath(store, rel)
        if (!rel.isEmpty) fs.mkdirs(destDir)
        val dest = new HPath(destDir, f"$prefix$i%05d-${p.getName}")
        require(fs.rename(p, dest), s"append commit: rename $p -> $dest failed")
      }
    // 5. commit point
    fs.create(marker, true).close()
    fs.delete(staging, true)
    // 6. invalidate this session's cached listings/plans for the path
    // (the rewrite protocols below already do this). Without it, a
    // reader that scanned the store BEFORE this append — a monitor
    // inside a stream loop is exactly that — leaves a file-status/plan
    // cache entry that a LATER fresh read can silently match, serving
    // the pre-append file set: stale answers with no error anywhere
    // (caught live by QuantilesSpec's grouped streaming twin).
    spark.catalog.refreshByPath(path)
    ()
  }

  // ---------------------------------------------------------------------
  // In-place swap protocol (rewrites: retraction, compaction)
  //
  // Every rewrite below replaces a directory's data files WITHOUT ever
  // renaming a directory. The only primitives it relies on are ATOMIC
  // PER-FILE operations — create-empty-file, single-file rename, and
  // single-file delete — which hold on the local filesystem, on HDFS,
  // and on object-store connectors (an S3 PUT/COPY lands a key whole or
  // not at all). Atomic DIRECTORY rename — which local-FS code gets for
  // free and object stores do NOT provide — is never assumed, so the
  // crash-convergence story transfers to a 100 TB deployment unchanged.
  //
  // Protocol, for a target dir (the store root, or one `cell=` dir):
  //   1. write the full rewrite into `<root>/._swap_<tag>` (dot-prefixed
  //      ⇒ hidden from every parquet/hive read; never a phantom
  //      partition value), then strip job artifacts (_SUCCESS) so the
  //      tmp content is final;
  //   2. create the empty COMMIT MARKER `<root>/._swapcommit_<gen>_<tag>`
  //      — the single atomic commit point (gen = 1 + max generation
  //      seen in the target's `swap<g>-` file names);
  //   3. complete the swap: delete the target's `.parquet` data files
  //      not prefixed `swap<gen>-`, rename each tmp file to
  //      `<target>/swap<gen>-<name>`, delete the tmp dir, delete the
  //      marker (strictly last).
  //
  // Crash anywhere:
  //   - before 2: originals untouched; the orphan tmp is discarded by
  //     the next [[recover]] — no data was ever deleted;
  //   - after 2: the tmp is by construction the COMPLETE rewrite, and
  //     [[recover]] re-runs step 3 idempotently (a file both renamed
  //     and still present in tmp — the non-atomic-rename case — is
  //     resolved dest-wins; deletes and renames of already-processed
  //     files no-op). No interleaving loses rows: deletion of original
  //     data only ever happens under a marker whose tmp is complete.
  //
  // The `_appended_*` replay markers and `_SUCCESS` live in the store
  // root and are never touched by a swap — a replayed batch still
  // no-ops after any rewrite. Same single-writer, run-between-batches
  // contract as the appends; a crash is healed by the NEXT store
  // operation (appendCommit/compact/rewriteWhere all run [[recover]]
  // on entry).
  // ---------------------------------------------------------------------

  private val SwapTmp = "._swap_"
  private val SwapCommit = "._swapcommit_"
  private val SwapGenRe = "^swap(\\d+)-.*".r

  /** Tag for a swap of the store root itself (vs a `cell=` subdir). */
  private val RootTag = "root"

  private def listDataParquet(fs: FileSystem, dir: HPath) =
    fs.listStatus(dir).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".") &&
        n.endsWith(".parquet")
    }

  /** Step 3 above — idempotent under arbitrary re-entry. */
  private def completeSwap(fs: FileSystem, target: HPath, tmp: HPath,
                           marker: HPath, gen: Long): Unit = {
    val pre = s"swap$gen-"
    listDataParquet(fs, target).foreach { st =>
      if (!st.getPath.getName.startsWith(pre)) fs.delete(st.getPath, false)
    }
    if (fs.exists(tmp)) {
      fs.mkdirs(target) // no-op when present; swaps never delete dirs
      fs.listStatus(tmp).toSeq.filter(_.isFile).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith("_") || name.startsWith("."))
          fs.delete(st.getPath, false)
        else {
          val dest = new HPath(target, pre + name)
          // dest-wins: src+dest both present = a rename that copied but
          // did not yet delete (object-store rename is copy+delete)
          if (fs.exists(dest)) fs.delete(st.getPath, false)
          else require(fs.rename(st.getPath, dest),
            s"swap: rename ${st.getPath} -> $dest failed")
        }
      }
      fs.delete(tmp, true)
    }
    fs.delete(marker, false) // strictly last: marker present ⇒ tmp complete
    ()
  }

  /** Converge any crashed rewrite at `path`: complete committed swaps
    * (marker present ⇒ tmp was fully written), discard uncommitted tmp
    * dirs (no marker ⇒ originals are untouched). Ran automatically at
    * the entry of every store mutation; also safe to call directly
    * before reading a store whose maintainer may have crashed. */
  def recover(spark: SparkSession, path: String): Unit = {
    val fs = fileSystem(spark, path)
    val root = new HPath(path)
    if (!fs.exists(root)) return
    fs.listStatus(root).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith(SwapCommit))
      .foreach { st =>
        val rest = st.getPath.getName.stripPrefix(SwapCommit)
        val cut = rest.indexOf('_')
        require(cut > 0, s"unparseable swap marker ${st.getPath}")
        val gen = rest.substring(0, cut).toLong
        val tag = rest.substring(cut + 1)
        val target = if (tag == RootTag) root else new HPath(root, tag)
        completeSwap(fs, target, new HPath(root, SwapTmp + tag),
          st.getPath, gen)
      }
    fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(SwapTmp))
      .foreach(st => fs.delete(st.getPath, true))
  }

  /** Steps 1–3 for one target dir; `write` materializes the rewrite at
    * the given tmp location (caller uses mode OVERWRITE). */
  private def swapRewrite(spark: SparkSession, root: HPath, target: HPath,
                          tag: String)(write: String => Unit): Unit = {
    val fs = fileSystem(spark, root.toString)
    val tmp = new HPath(root, SwapTmp + tag)
    fs.delete(tmp, true)
    write(tmp.toString)
    fs.listStatus(tmp).toSeq.foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith("."))
        fs.delete(st.getPath, st.isDirectory)
    }
    val gen = 1L + listDataParquet(fs, target).map(_.getPath.getName).flatMap {
      case SwapGenRe(g) => Some(g.toLong)
      case _ => None
    }.foldLeft(0L)(math.max)
    val marker = new HPath(root, s"$SwapCommit${gen}_$tag")
    fs.create(marker, true).close() // the commit point
    completeSwap(fs, target, tmp, marker, gen)
  }

  private def hivePartitionDirs(fs: FileSystem, root: HPath) =
    fs.listStatus(root).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isDirectory && n.contains("=") && !n.startsWith(".")
    }

  /** Targeted store REWRITE — the takedown/retraction lifecycle
    * ([[graft.ops.Retention]]'s file-targeted deletes, applied to the
    * row-level case an append store needs: remove one document's
    * signatures/fingerprints/pairs from a store that is otherwise
    * append-only). Keeps only rows satisfying `keep`, via the in-place
    * swap protocol above; the `_appended_*` markers stay in place
    * untouched — a replayed batch must still no-op after a retraction,
    * or at-least-once delivery would re-insert the retracted rows from
    * a redelivered batch that contained them (the marker is the record
    * that the batch landed; retraction is a later, separate fact).
    * Single-writer contract as everywhere; run between batches.
    * Returns the kept row count. */
  def rewriteWhere(spark: SparkSession, path: String,
                   keep: org.apache.spark.sql.Column): Long = {
    val fs = fileSystem(spark, path)
    val root = new HPath(path)
    require(fs.exists(new HPath(root, "_SUCCESS")), s"no store at $path")
    recover(spark, path)
    require(hivePartitionDirs(fs, root).isEmpty,
      s"$path is hive-partitioned — retract per partition or rebuild")
    val kept = spark.read.parquet(path).filter(keep)
    val n = kept.count()
    swapRewrite(spark, root, root, RootTag) { tmpPath =>
      kept.write.mode("overwrite").parquet(tmpPath)
    }
    spark.catalog.refreshByPath(path)
    n
  }

  /** Rewrite `path` into ⌈bytes / targetFileBytes⌉ files via the
    * in-place swap protocol above (per-file atomic ops only — works on
    * HDFS/object-store filesystems, where directory rename is not
    * atomic). The `_appended_*` markers never move, so a replayed batch
    * still finds its marker AFTER compaction and no-ops instead of
    * re-appending rows the compacted files already hold. Span-store
    * delta sidecars live OUTSIDE the store dir and stay valid: they
    * record hash sets, which compaction preserves by construction.
    *
    * Run BETWEEN batches under the single-writer contract the appends
    * already assume; a crash mid-swap is healed by the next store
    * operation ([[recover]]). Returns the new file count. */
  def compact(spark: SparkSession, path: String,
              targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    val fs = fileSystem(spark, path)
    val root = new HPath(path)
    require(fs.exists(new HPath(root, "_SUCCESS")), s"no store at $path")
    recover(spark, path)
    require(hivePartitionDirs(fs, root).isEmpty,
      s"$path is hive-partitioned (e.g. the IVF-PQ index) — a flat " +
        "rewrite would destroy partition pruning; use compactPartitioned")
    val totalBytes = listDataParquet(fs, root).map(_.getLen).sum
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    swapRewrite(spark, root, root, RootTag) { tmpPath =>
      spark.read.parquet(path).repartition(n)
        .write.mode("overwrite").parquet(tmpPath)
    }
    // the swap is a NEW file set at the same path: drop any plan or
    // cache still pointing at the deleted files
    spark.catalog.refreshByPath(path)
    n
  }

  /** [[compact]] for HIVE-PARTITIONED stores (the IVF-PQ index layout:
    * `cell=<k>/` directories fed by [[graft.ops.Pq.indexAppend]], which
    * accrues one small file set per batch exactly like the flat stores
    * did). Each partition directory is rewritten INDEPENDENTLY through
    * the same in-place swap protocol (tag = the cell dir name, tmp and
    * marker in the store ROOT — dot-prefixed, so never a phantom
    * partition value to a hive-layout scan). The directory name carries
    * the partition value, so pruning is preserved by construction, and
    * the root's `_appended_*` markers are never touched. A crash
    * between cells leaves some compacted and some not — row-identical
    * either way; a crash INSIDE a cell's swap converges via
    * [[recover]] with no row ever lost (original cell files are only
    * deleted under a commit marker whose tmp rewrite is complete).
    * Same single-writer, run-between-batches contract as everywhere.
    * Returns the total data-file count across partitions. */
  def compactPartitioned(spark: SparkSession, path: String,
                         targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    val fs = fileSystem(spark, path)
    val root = new HPath(path)
    require(fs.exists(new HPath(root, "_SUCCESS")), s"no store at $path")
    recover(spark, path)
    val cellDirs = hivePartitionDirs(fs, root)
    require(cellDirs.nonEmpty,
      s"$path has no partition directories — use compact for flat stores")
    var total = 0
    cellDirs.foreach { cd =>
      val files = listDataParquet(fs, cd.getPath)
      val n = math.max(1,
        math.ceil(files.map(_.getLen).sum.toDouble / targetFileBytes).toInt)
      if (files.length > n) {
        // the cell's files carry the non-partition columns only; the
        // rewrite keeps that shape and the dir name keeps the value
        swapRewrite(spark, root, cd.getPath, cd.getPath.getName) { tmpPath =>
          spark.read.parquet(cd.getPath.toString).repartition(n)
            .write.mode("overwrite").parquet(tmpPath)
        }
        total += n
      } else total += files.length
    }
    spark.catalog.refreshByPath(path)
    total
  }
}
