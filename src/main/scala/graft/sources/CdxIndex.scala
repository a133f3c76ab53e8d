package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The crawl's master URL index: CDX rows (from
  * [[WarcIo.writeWarcWithCdx]] sidecars via [[WarcIo.readCdxj]], or any
  * external CDX source) compacted into ONE globally range-sorted table
  * keyed by SURT — the web-archive layout (Common Crawl's
  * `cc-index`: sorted cdx-NNNNN shards + a `cluster.idx` that maps key
  * ranges to shards) re-expressed on parquet.
  *
  * Layout written by [[buildTable]] under `dir`:
  *   - `<dir>/cdx/` — the index rows, RANGE-partitioned by (surt, ts)
  *     and sorted within each shard, so one host's (and one domain's)
  *     captures are contiguous in ONE shard run;
  *   - `<dir>/cluster/` — the cluster.idx analog: per shard FILE its
  *     [first,last] SURT key and row count. Tiny (one row per shard),
  *     read whole.
  *
  * Scale shape: a lookup ([[lookupPrefix]] / [[lookupRange]]) reads the
  * cluster table (shard-count rows), picks the shard files whose key
  * range intersects, and scans ONLY those — at Common Crawl scale
  * (3×10⁹ captures, 300 shards) a host query touches 1–2 shards, and
  * inside each shard parquet row-group stats on the sorted `surt`
  * column prune further. Nothing index-sized is ever collected; the
  * only driver materialization is the shard-file list (≤ nShards
  * strings). Queries needing the reverse direction (url → archive
  * bytes) get (`filename`, `offset`, `length`) for a single ranged
  * read, which is the point of a CDX: fetch ONE page from a 100 TB
  * archive without scanning it.
  */
object CdxIndex {

  /** Write the sorted master index. `cdx` must carry at least
    * (surt, ts); all columns are kept. Range partitioning samples the
    * key distribution, so shard boundaries follow the data (a heavily
    * crawled domain spreads over several shards instead of hot-spotting
    * one writer).
    *
    * The whole table (shards + cluster) builds under `<dir>__staging`
    * and promotes by directory rename — a plain two-write overwrite
    * would leave a half-rebuilt table on disk (cdx shards live,
    * cluster missing or stale) for a crash OR for any reader starting
    * mid-write. The swap's contract is crash-safety (the previous
    * table parks at `<dir>__parked`, the CrawlFrontier.compactIndex
    * convention) and consistency for lookups STARTING after the swap;
    * a lookup in flight ACROSS a rebuild (cluster consulted before,
    * shards read after) fails loudly on the renamed-away files — same
    * single-writer/no-concurrent-probe discipline the frontier
    * documents, not silent wrong answers. The cluster stores shard
    * files by BASENAME, not absolute path, so the table survives the
    * promote rename (and any later relocation of the index dir).
    */
  def buildTable(cdx: DataFrame, dir: String, nShards: Int): Unit =
    buildTableKeyed(cdx, dir, nShards, Seq("surt", "ts"))

  /** [[buildTable]] generalized over the sort key — `sortCols.head` is
    * the cluster-pruned lookup key; the rest order rows within it.
    * The primary index keys on (surt, ts); the digest reverse index
    * ([[buildDigestIndex]]) keys on (digest, surt, ts).
    */
  private def buildTableKeyed(cdx: DataFrame, dir: String, nShards: Int,
      sortCols: Seq[String]): Unit = {
    require(nShards > 0, "nShards must be positive")
    val key = sortCols.head
    val spark = cdx.sparkSession
    val staging = s"${dir}__staging"
    val hconf = spark.sessionState.newHadoopConf()
    val livePath = new org.apache.hadoop.fs.Path(dir)
    val fs = livePath.getFileSystem(hconf)
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    // a NULL range key is unaddressable by this index (and the cluster
    // lo/hi — min/max skip nulls — could not admit it anyway): drop it
    // HERE so every entry point (buildTable, buildDigestIndex,
    // initMaster/appendCrawl with any key) behaves identically instead
    // of leaving the digest-master incremental path caller-disciplined
    cdx.filter(col(key).isNotNull)
      .repartitionByRange(nShards, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").parquet(s"$staging/cdx")
    // cluster.idx analog: per shard file its key range, row count and
    // capture-time window (ts_lo/ts_hi — lexicographic min/max of the
    // fixed-width ts14 string = chronological; lets the nearest-capture
    // family skip generations that provably cannot beat an admitted
    // capture; tables without a ts column record NULL windows = always
    // admitted). The parquet FOOTERS of the shards just written already
    // carry exact per-file row counts and unsigned-lexicographic
    // min/max for every string column, so the cluster derives from
    // O(files) driver-side footer reads instead of a second distributed
    // pass over the data — at archive scale the difference between
    // re-reading the new generation and reading its metadata. A file
    // whose footer lacks usable key statistics (foreign writer,
    // truncated stats) falls back to the original column-pruned scan —
    // stats are an optimization, never an answer.
    writeClusterFromFooters(spark, staging, key).getOrElse {
      val shards = spark.read.parquet(s"$staging/cdx")
      val tsCol =
        if (shards.columns.contains("ts")) col("ts").cast("string")
        else lit(null).cast("string")
      shards
        .groupBy(substring_index(input_file_name(), "/", -1).as("file"))
        .agg(min(col(key)).as("lo"), max(col(key)).as("hi"),
          count(lit(1)).as("n"),
          min(tsCol).as("ts_lo"), max(tsCol).as("ts_hi"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$staging/cluster")
    }
    if (fs.exists(livePath))
      graft.operators.CrawlFrontier.swapDir(spark, staging, dir, s"${dir}__parked")
    else {
      val parent = livePath.getParent
      if (parent != null) fs.mkdirs(parent)
      require(fs.rename(new org.apache.hadoop.fs.Path(staging), livePath),
        s"CdxIndex: could not promote $staging to $dir")
    }
  }

  /** Derive the cluster table from the staged shards' parquet FOOTERS:
    * per file, row count from the block metadata and the key / ts
    * min-max from the column-chunk statistics. Exactness: parquet-mr
    * writes UNSIGNED-lexicographic min/max for STRING columns (the
    * reader drops statistics recorded under the legacy signed order),
    * which is exactly Spark's UTF8String comparison — and the values
    * are untruncated actual column values at the default writer
    * settings, so the derived (lo, hi, ts_lo, ts_hi, n) equal the
    * former `groupBy(input_file_name)` aggregation bit-for-bit.
    * Returns None (caller falls back to the distributed pass) when any
    * nonempty file lacks usable key statistics or carries a non-string
    * key — stats accelerate the build, they never change it.
    */
  private def writeClusterFromFooters(spark: SparkSession, staging: String,
      key: String): Option[Unit] = {
    import scala.jdk.CollectionConverters._
    val hconf = spark.sessionState.newHadoopConf()
    // the footer path requires UNTRUNCATED binary min/max (the cluster
    // bounds are pinned bit-equal to the scan aggregation — CdxSpec);
    // a deployment that sets parquet.statistics.truncate.length writes
    // widened surrogate bounds — superset-safe for pruning but no
    // longer bit-equal — so such a conf falls back to the scan pass
    // (review catch)
    if (hconf.getInt("parquet.statistics.truncate.length", Int.MaxValue) != Int.MaxValue)
      return None
    val cdxDir = new org.apache.hadoop.fs.Path(s"$staging/cdx")
    val fs = cdxDir.getFileSystem(hconf)
    val parts = fs.listStatus(cdxDir).map(_.getPath).filter { p =>
      p.getName.startsWith("part-") && p.getName.endsWith(".parquet")
    }.sortBy(_.getName)
    final case class FileStats(file: String, lo: String, hi: String, n: Long,
        tsLo: Option[String], tsHi: Option[String])
    def minMaxUtf8(a: Option[(String, String)], b: (String, String)) = a match {
      case None => Some(b)
      case Some((lo, hi)) => Some((
        if (cmpUtf8(b._1, lo) < 0) b._1 else lo,
        if (cmpUtf8(b._2, hi) > 0) b._2 else hi))
    }
    // per-chunk stats → Some(None)=all-null, Some(Some(min,max))=usable,
    // None=unusable (missing/legacy stats) → whole-build fallback
    def chunkRange(b: org.apache.parquet.hadoop.metadata.BlockMetaData,
        colName: String): Option[Option[(String, String)]] = {
      b.getColumns.asScala.find(_.getPath.toDotString == colName).flatMap { c =>
        val st = c.getStatistics
        if (st == null) None
        else if (!st.hasNonNullValue) {
          if (st.isNumNullsSet && st.getNumNulls == b.getRowCount) Some(None)
          else None
        } else (st.genericGetMin, st.genericGetMax) match {
          case (mn: org.apache.parquet.io.api.Binary, mx: org.apache.parquet.io.api.Binary) =>
            Some(Some((mn.toStringUsingUTF8, mx.toStringUsingUTF8)))
          case _ => None // non-string key: the scan path owns it
        }
      }
    }
    val stats = parts.toSeq.map { p =>
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, hconf))
      val footer = try rd.getFooter finally rd.close()
      val hasTs = footer.getFileMetaData.getSchema.containsField("ts")
      val blocks = footer.getBlocks.asScala.toSeq
      val n = blocks.map(_.getRowCount).sum
      if (n == 0L) Some(None) // empty part: no cluster row (as before)
      else {
        var keyRange: Option[(String, String)] = None
        var tsRange: Option[(String, String)] = None
        var ok = true
        blocks.foreach { b =>
          if (ok && b.getRowCount > 0) {
            chunkRange(b, key) match {
              case Some(Some(r)) => keyRange = minMaxUtf8(keyRange, r)
              case Some(None) => () // all-null key chunk (filtered upstream)
              case None => ok = false
            }
            if (ok && hasTs) chunkRange(b, "ts") match {
              case Some(Some(r)) => tsRange = minMaxUtf8(tsRange, r)
              case Some(None) => ()
              case None => ok = false
            }
          }
        }
        if (!ok || keyRange.isEmpty) None
        else Some(Some(FileStats(p.getName, keyRange.get._1, keyRange.get._2, n,
          tsRange.map(_._1), tsRange.map(_._2))))
      }
    }
    if (stats.exists(_.isEmpty)) None
    else {
      // the cluster is nShards tiny rows: write it DIRECTLY with the
      // parquet-mr row writer instead of launching a Spark job over a
      // LocalRelation — the last distributed step of a build was a
      // job whose every input byte already sits on the driver. Same
      // column names/types the Spark writer produced; read back by
      // clusterRowsLocal's Group reader (and plain spark.read, which
      // the equivalence spec uses).
      val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
        """message cluster {
          |  optional binary file (STRING);
          |  optional binary lo (STRING);
          |  optional binary hi (STRING);
          |  optional int64 n;
          |  optional binary ts_lo (STRING);
          |  optional binary ts_hi (STRING);
          |}""".stripMargin)
      val cdir = new org.apache.hadoop.fs.Path(s"$staging/cluster")
      fs.delete(cdir, true)
      fs.mkdirs(cdir)
      val out = new org.apache.hadoop.fs.Path(cdir,
        f"part-00000-${java.util.UUID.randomUUID()}.parquet")
      val wconf = new org.apache.hadoop.conf.Configuration(hconf)
      org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(schema, wconf)
      val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(out, wconf))
        .withConf(wconf)
        .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
        .build()
      try {
        val gf = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
        stats.flatten.flatten.foreach { s =>
          val g = gf.newGroup()
          g.add("file", s.file); g.add("lo", s.lo); g.add("hi", s.hi)
          g.add("n", s.n)
          s.tsLo.foreach(v => { g.add("ts_lo", v); () })
          s.tsHi.foreach(v => { g.add("ts_hi", v); () })
          writer.write(g)
        }
      } finally writer.close()
      Some(())
    }
  }

  /** The digest-keyed REVERSE index: the same CDX rows
    * range-partitioned and cluster-pruned by `digest` instead of
    * `surt` — "find every capture of this content" (provenance, storage
    * dedup accounting, takedown sweeps) as a pruned ranged lookup
    * instead of a full index scan. Rows with a NULL digest (external
    * CDX rows can carry them) are excluded — they are unaddressable by
    * content and a null range key would hot-spot one shard.
    *
    * This is the one-shot batch build (O(total) per rebuild). A LIVING
    * digest master maintains incrementally exactly like the primary:
    * `initMaster(rows, dir, n, sortCols = DigestKey)` +
    * `appendCrawl(newRows, dir, n, DigestKey)` — filter NULL digests
    * yourself on that path; [[lookupDigest]] resolves generations
    * like every lookup here.
    */
  val DigestKey: Seq[String] = Seq("digest", "surt", "ts")

  def buildDigestIndex(cdx: DataFrame, dir: String, nShards: Int): Unit =
    buildTableKeyed(cdx, dir, nShards, DigestKey) // null digests drop in buildTableKeyed

  /** Every capture of one content digest, scanning only the shards the
    * digest index's cluster table admits. Exact key: digests are
    * `sha1:BASE32` (no NUL), so [d, d+"\u0000") admits d alone.
    */
  def lookupDigest(spark: SparkSession, dir: String, digest: String): DataFrame =
    lookupRangesKeyed(spark, dir, "digest", Seq((digest, digest + "\u0000")))

  // -------------------------------------------------- generational master

  /** The LSM-style master layout: instead of re-sorting ALL history on
    * every crawl merge ([[mergeTables]] — O(archive) maintenance), the
    * master dir holds IMMUTABLE per-crawl generations plus a tiny
    * manifest naming the live ones:
    *
    *   - `<dir>/gen-NNNNNNNN/` — one [[buildTable]] layout each
    *     (cdx shards + cluster), never modified after publication;
    *   - `<dir>/manifest-NNNNNNNN` — one generation BASENAME per line,
    *     oldest first; the highest-numbered manifest is current.
    *     Published atomically (write `.tmp`, rename) so a reader lists
    *     only complete manifests.
    *
    * Maintenance cost: [[appendCrawl]] sorts ONLY the new crawl —
    * O(new), not O(archive); [[compact]] is the periodic leveled merge
    * that folds the generations back to one (run it when lookups span
    * too many generations — each generation adds one cluster row-set
    * and its own pruned shard files to a lookup, exactly the
    * [[graft.operators.CrawlFrontier.compactIndex]] append/compact
    * discipline).
    *
    * Generation-pinned reads: a lookup resolves the manifest ONCE at
    * DataFrame construction and scans only the concrete files that
    * manifest names. Generations are immutable and [[vacuum]] retains
    * every generation the last `keepManifests` manifests reference, so
    * a lookup in flight ACROSS an append/compact completes with the
    * pinned manifest's (correct, slightly stale) answer instead of
    * failing on renamed-away files — the availability the legacy
    * single-table rebuild cannot give.
    *
    * All mutators hold the same exclusive `_writer.lock` lease the
    * crawl frontier uses: single writer, loud second-writer failure.
    */
  private def masterFs(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p, p.getFileSystem(spark.sessionState.newHadoopConf()))
  }

  private def manifestFiles(fs: org.apache.hadoop.fs.FileSystem,
      dirPath: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] =
    if (!fs.exists(dirPath)) Seq.empty
    else fs.listStatus(dirPath).map(_.getPath)
      .filter(p => p.getName.matches("manifest-\\d{8}")).sortBy(_.getName).toSeq

  /** One manifest line: the generation basename plus the EPOCH TAGS it
    * covers (comma-joined after a tab; absent for untagged batch
    * appends). Tags are the exactly-once ledger for streaming appends
    * ([[appendEpoch]]): they ride the manifest line so the
    * "generation published" and "epoch recorded" facts commit in ONE
    * atomic rename — a separate ledger file would leave a crash window
    * on either side (recorded-but-unpublished loses captures,
    * published-but-unrecorded double-counts them on replay).
    * Compactions carry the folded generations' tags onto the output
    * generation, so a late replay of a long-compacted epoch still
    * no-ops.
    *
    * Each tag serializes as `name@seq`, where `seq` is the id of the
    * manifest that FIRST recorded it — the delivery order
    * [[pruneEpochTags]] prunes by. Manifest flatten order cannot serve
    * that role: a compaction re-homes the folded (oldest) tags onto
    * the NEWEST generation at the end of the manifest, so after any
    * fold the flatten order would call the newest delivery "oldest"
    * and a horizon prune would drop exactly the tag a crash-replay is
    * about to probe. '@' is outside [[appendEpoch]]'s tag charset, so
    * the split is unambiguous; legacy bare tags read back with their
    * flatten position as the sequence (monotone within a pre-seq
    * manifest, and always below any new manifest id — ids count
    * publishes, which the tag count never exceeds).
    */
  private def readManifestEntries(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Seq[(String, Seq[(String, Long)])] = {
    val in = fs.open(p)
    val bytes =
      try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
      finally in.close()
    val raw = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").map(_.trim).filter(_.nonEmpty).toSeq
      .map { line =>
        val cut = line.indexOf('\t')
        if (cut < 0) (line, Seq.empty[String])
        else (line.substring(0, cut),
          line.substring(cut + 1).split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      }
    var pos = -1L // flatten position: the legacy-tag sequence fallback
    raw.map { case (gen, tags) =>
      gen -> tags.map { t =>
        pos += 1
        val at = t.lastIndexOf('@')
        if (at > 0 && at < t.length - 1 && t.substring(at + 1).forall(_.isDigit))
          (t.substring(0, at), t.substring(at + 1).toLong)
        else (t, pos)
      }
    }
  }

  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Seq[String] =
    readManifestEntries(fs, p).map(_._1)

  private def nextManifestId(fs: org.apache.hadoop.fs.FileSystem,
      dirPath: org.apache.hadoop.fs.Path): Int =
    manifestFiles(fs, dirPath).lastOption
      .map(_.getName.stripPrefix("manifest-").toInt).getOrElse(0) + 1

  /** Publish the next manifest (generation entries, oldest first) —
    * write the temp, rename into the numbered name. Returns the new id.
    */
  private def publishManifest(fs: org.apache.hadoop.fs.FileSystem,
      dirPath: org.apache.hadoop.fs.Path,
      entries: Seq[(String, Seq[(String, Long)])]): Int = {
    val id = nextManifestId(fs, dirPath)
    val fin = new org.apache.hadoop.fs.Path(dirPath, f"manifest-$id%08d")
    val tmp = new org.apache.hadoop.fs.Path(dirPath, f"manifest-$id%08d.tmp")
    val lines = entries.map { case (gen, tags) =>
      if (tags.isEmpty) gen
      else gen + "\t" + tags.map { case (n, s) => s"$n@$s" }.mkString(",")
    }
    val out = fs.create(tmp, true)
    try out.write((lines.mkString("\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    require(fs.rename(tmp, fin), s"CdxIndex: could not publish $fin")
    id
  }

  /** The current generation dirs (absolute), pinned to the NEWEST
    * manifest — or, when no manifest exists, the legacy single-table
    * layout (`dir` itself holds cdx/ + cluster/). Loud when neither
    * layout is present.
    */
  private def resolveGens(spark: SparkSession, dir: String): Seq[String] = {
    val (dirPath, fs) = masterFs(spark, dir)
    manifestFiles(fs, dirPath).lastOption match {
      case Some(m) => readManifest(fs, m).map(g => s"$dir/$g")
      case None =>
        require(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/cluster")),
          s"CdxIndex: $dir holds neither a manifest (generational layout) nor " +
            "a cluster dir (single-table layout)")
        Seq(dir)
    }
  }

  /** Create a generational master from the first crawl's CDX rows.
    * `dir` must not already hold an index. `sortCols.head` is the
    * master's cluster-pruned range key — the default builds the
    * primary (surt, ts) index; pass `Seq("digest", "surt", "ts")` for
    * an incrementally-maintained DIGEST reverse master
    * ([[lookupDigest]] resolves generations like every lookup). The
    * key is recorded in `<dir>/_key` and every later [[appendCrawl]]/
    * [[compact]] must sort the same way — a generation sorted on a
    * different key would silently break cluster pruning, so the
    * mismatch fails loudly instead.
    */
  def initMaster(cdx: DataFrame, dir: String, nShards: Int,
      sortCols: Seq[String] = Seq("surt", "ts")): Unit = {
    val spark = cdx.sparkSession
    val (dirPath, fs) = masterFs(spark, dir)
    fs.mkdirs(dirPath)
    graft.operators.CrawlFrontier.withWriterLock(spark, dir) {
      // the already-an-index check runs INSIDE the lease: two racing
      // initMaster calls must serialize into one winner and one loud
      // failure, never a silent rebuild of gen-00000001 over the
      // winner's data
      require(manifestFiles(fs, dirPath).isEmpty &&
        !fs.exists(new org.apache.hadoop.fs.Path(s"$dir/cluster")),
        s"CdxIndex: $dir already holds an index — use appendCrawl")
      writeKeyFile(fs, dirPath, sortCols)
      val gen = "gen-00000001"
      buildTableKeyed(cdx, s"$dir/$gen", nShards, sortCols)
      publishManifest(fs, dirPath, Seq(gen -> Seq.empty)); ()
    }
  }

  /** Record / verify the master's sort key (`<dir>/_key`, one column
    * per line) so generations can never mix range keys.
    */
  private def writeKeyFile(fs: org.apache.hadoop.fs.FileSystem,
      dirPath: org.apache.hadoop.fs.Path, sortCols: Seq[String]): Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(dirPath, "_key"), true)
    try out.write((sortCols.mkString("\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readKeyFile(fs: org.apache.hadoop.fs.FileSystem,
      dirPath: org.apache.hadoop.fs.Path): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dirPath, "_key")
    // pre-_key masters were always (surt, ts) — the only spelling the
    // old initMaster could write
    if (!fs.exists(p)) return Seq("surt", "ts")
    val in = fs.open(p)
    val bytes =
      try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
      finally in.close()
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").map(_.trim).filter(_.nonEmpty).toSeq
  }

  private def requireSameKey(fs: org.apache.hadoop.fs.FileSystem,
      dirPath: org.apache.hadoop.fs.Path, sortCols: Seq[String]): Unit = {
    val stored = readKeyFile(fs, dirPath)
    require(stored == sortCols,
      s"CdxIndex: $dirPath is keyed on (${stored.mkString(", ")}) but this pass " +
        s"sorts (${sortCols.mkString(", ")}) — mixed-key generations would " +
        "silently break cluster pruning")
  }

  /** Lookup-side twin of [[requireSameKey]]: a GENERATIONAL master
    * records its range key, and probing it with a different key column
    * would compare apples to digests against the cluster bounds and
    * silently return an arbitrary subset — fail loudly instead.
    * Legacy single-table dirs carry no key record; their lookups stay
    * caller-disciplined as before (buildDigestIndex output is looked
    * up with lookupDigest by construction).
    */
  /** The (filename, numeric offset) pointer tuple as ONE sortable
    * string: filename + NUL + zero-padded offset. NUL (0x00) cannot
    * occur in an archive filename and sorts below every real char, so
    * the string order equals the TUPLE order even when one filename
    * prefixes another ("f.warc" sorts before "f.warc.gz", where a
    * visible separator like '|' would invert them). A struct key would
    * be exact too, but its interpreted per-row comparison measurably
    * slows the sort-heavy as-of spine; strings stay on the binary
    * comparator. ONE definition for every capture-pick surface.
    */
  private[sources] def ptrTiebreak(filename: Column, offset: Column): Column =
    concat(filename, lit(0.toChar.toString), lpad(offset.cast("string"), 20, "0"))

  private def requireLookupKey(spark: SparkSession, dir: String, keyCol: String): Unit = {
    val (dirPath, fs) = masterFs(spark, dir)
    if (manifestFiles(fs, dirPath).nonEmpty) {
      val stored = readKeyFile(fs, dirPath)
      require(stored.head == keyCol,
        s"CdxIndex: $dir is a generational master keyed on '${stored.head}' — " +
          s"a '$keyCol' lookup against it would prune against the wrong bounds " +
          "and silently miss rows")
    }
  }

  /** Append one crawl's CDX rows as a NEW generation: sorts only the
    * new rows — maintenance cost tracks the new crawl's size, not the
    * archive's. Lookups immediately span the new generation; in-flight
    * lookups complete against their pinned manifest.
    */
  def appendCrawl(cdx: DataFrame, dir: String, nShards: Int,
      sortCols: Seq[String] = Seq("surt", "ts")): Unit = {
    val appended = appendTagged(cdx, dir, nShards, sortCols, None)
    // tag-gating is the only no-op path; require (not assert — elided
    // under -Xdisable-assertions) like every other invariant here
    if (!appended) throw new IllegalStateException(
      "CdxIndex: untagged append reported a no-op — appendTagged's tag gate broke")
  }

  /** EXACTLY-ONCE append for streaming maintenance: appends `cdx` as a
    * new generation TAGGED with `epochTag` — a replay of an
    * already-appended tag is a no-op (returns false), so a
    * `foreachBatch` crash-replay cannot double-count an epoch's
    * captures. The tag and the generation publish in ONE manifest
    * rename (see [[readManifestEntries]]); [[compact]] carries folded
    * tags forward, so the guarantee survives compactions. The first
    * epoch CREATES the master (recording `sortCols` as its key) — one
    * code path for the whole stream, no out-of-band initMaster step.
    *
    * This is the `foreachBatch` twin of
    * [[graft.operators.CrawlFrontier.ingest]]'s staged-idempotence
    * discipline: the crash window between generation promote and
    * manifest publish leaves only an ORPHAN generation dir (never
    * referenced, reclaimed by [[vacuum]]) — the replay appends afresh
    * and the master holds the epoch exactly once.
    */
  def appendEpoch(cdx: DataFrame, dir: String, nShards: Int, epochTag: String,
      sortCols: Seq[String] = Seq("surt", "ts")): Boolean = {
    require(epochTag.nonEmpty && epochTag.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_' || c == '.' || c == ':'),
      s"CdxIndex: epoch tag '$epochTag' must be a plain token (it rides a " +
        "tab/comma-delimited manifest line)")
    appendTagged(cdx, dir, nShards, sortCols, Some(epochTag))
  }

  /** Whether the master's CURRENT manifest already records `epochTag`
    * — the read-only twin of [[appendEpoch]]'s no-op check, for
    * callers that must decide BEFORE doing epoch work whether a replay
    * is re-running an already-published epoch
    * ([[WarcIo.archiveEpochSink]] skips the archive rewrite on it: the
    * masters' pointers into the committed dir must not be stranded by
    * a repartitioned re-write). False when no manifest exists.
    */
  def hasEpoch(spark: SparkSession, dir: String, epochTag: String): Boolean = {
    val (dirPath, fs) = masterFs(spark, dir)
    manifestFiles(fs, dirPath).lastOption
      .exists(m => readManifestEntries(fs, m).exists(_._2.exists(_._1 == epochTag)))
  }

  private def appendTagged(cdx: DataFrame, dir: String, nShards: Int,
      sortCols: Seq[String], tag: Option[String]): Boolean = {
    val spark = cdx.sparkSession
    val (dirPath, fs) = masterFs(spark, dir)
    // no mkdirs here: withWriterLock's lease create makes the dir when
    // the first epoch initializes a fresh master, and an untagged
    // append to a mistyped path should fail on "no manifest" without
    // littering more than the (removed-in-finally) lease
    graft.operators.CrawlFrontier.withWriterLock(spark, dir) {
      val prev = manifestFiles(fs, dirPath).lastOption match {
        case Some(m) => Some(readManifestEntries(fs, m))
        case None if tag.isDefined =>
          // first epoch of a stream: create the master in-line (the
          // same already-an-index check initMaster runs, inside the
          // same lease)
          require(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/cluster")),
            s"CdxIndex: $dir holds a single-table index — appendEpoch needs the " +
              "generational layout")
          writeKeyFile(fs, dirPath, sortCols)
          None
        case None => throw new IllegalStateException(
          s"CdxIndex: $dir has no manifest — initMaster first (or keep using " +
            "buildTable for the single-table layout)")
      }
      // key check BEFORE the tag no-op: a replay that passes the wrong
      // sort key is a caller bug and must fail loudly, not silently
      // skip as "already appended"
      requireSameKey(fs, dirPath, sortCols)
      if (tag.exists(t => prev.exists(_.exists(_._2.exists(_._1 == t))))) false
      else {
        val entries = prev.getOrElse(Seq.empty)
        val id = entries.map(_._1.stripPrefix("gen-").toInt).foldLeft(0)(_ max _) + 1
        val gen = f"gen-$id%08d"
        buildTableKeyed(cdx, s"$dir/$gen", nShards, sortCols)
        // the tag's sequence = the id this publish will take (nothing
        // else publishes under the lease) — the delivery order
        // pruneEpochTags prunes by
        val seq = nextManifestId(fs, dirPath).toLong
        publishManifest(fs, dirPath, entries :+ (gen -> tag.map(t => (t, seq)).toSeq))
        true
      }
    }
  }

  /** The FULL compaction: fold every live generation into ONE freshly
    * range-partitioned generation (the only O(archive) pass, run on
    * YOUR schedule instead of on every merge) and publish a manifest
    * naming just it. Old generations stay on disk for pinned readers
    * until [[vacuum]]. Folded epoch tags carry onto the output
    * generation, so [[appendEpoch]]'s replay guarantee survives. For
    * the bounded variant that never rewrites the big base generation,
    * pass `maxGens` (the size-tiered overload below).
    */
  def compact(spark: SparkSession, dir: String, nShards: Int): Unit =
    compactGens(spark, dir, nShards, all => all)

  /** SIZE-TIERED compaction: when more than `maxGens` generations are
    * live, fold only the SMALLEST `liveCount - maxGens + 1` of them
    * (by on-disk bytes) into one — the LSM discipline that bounds each
    * maintenance pass's IO to the small generations it folds instead
    * of rewriting the whole archive every time. Repeated appends +
    * tiered passes keep the generation count ≤ `maxGens` while the big
    * base generation is rewritten only when it is itself among the
    * smallest (i.e. O(log archive) times over the archive's life —
    * the same incremental-ledger shape as the reference's GTID
    * compaction, dtle `driver/mysql/applier_gtid_executed.go:248-291`,
    * which folds every 2048 rows per SID and never rewrites the whole
    * ledger). At or under `maxGens` the pass is a FREE no-op (no
    * manifest republish). Lookups are unaffected either way: answers
    * are generation-order-independent (captures only accumulate), and
    * in-flight readers hold their pinned manifest.
    */
  def compact(spark: SparkSession, dir: String, nShards: Int, maxGens: Int): Unit = {
    require(maxGens >= 1, "maxGens must be at least 1")
    compactGens(spark, dir, nShards, { entries =>
      if (entries.size <= maxGens) Seq.empty
      else {
        val (_, fs) = masterFs(spark, dir)
        val sized = entries.map { case e @ (gen, _) =>
          e -> fs.getContentSummary(new org.apache.hadoop.fs.Path(s"$dir/$gen")).getLength
        }
        sized.sortBy(_._2).take(entries.size - maxGens + 1).map(_._1)
      }
    })
  }

  /** Shared fold: `pick` chooses which live entries fold (all of them,
    * or the size-tiered smallest); picking none (or one) is a no-op.
    * The output generation replaces the folded entries at the END of
    * the manifest and inherits their tags, unfolded entries keep their
    * order — order never affects answers, only which bytes the next
    * tiered pass weighs.
    */
  private def compactGens(spark: SparkSession, dir: String, nShards: Int,
      pick: Seq[(String, Seq[(String, Long)])] => Seq[(String, Seq[(String, Long)])]): Unit = {
    val (dirPath, fs) = masterFs(spark, dir)
    graft.operators.CrawlFrontier.withWriterLock(spark, dir) {
      val m = manifestFiles(fs, dirPath).lastOption.getOrElse(
        throw new IllegalStateException(s"CdxIndex: $dir has no manifest to compact"))
      val entries = readManifestEntries(fs, m)
      val fold = pick(entries)
      if (fold.size > 1) {
        val foldSet = fold.map(_._1).toSet
        val keep = entries.filterNot(e => foldSet.contains(e._1))
        val id = entries.map(_._1.stripPrefix("gen-").toInt).max + 1
        val gen = f"gen-$id%08d"
        buildTableKeyed(
          fold.map(e => spark.read.parquet(s"$dir/${e._1}/cdx")).reduce(_ unionByName _),
          s"$dir/$gen", nShards, readKeyFile(fs, dirPath))
        publishManifest(fs, dirPath,
          keep :+ (gen -> fold.flatMap(_._2).distinct)); ()
      }
    }
  }

  /** The companion maintenance step to [[WarcIo.compactArchives]]:
    * that pass rewrites the archive's physical layout (new part files,
    * shifted offsets) and thereby invalidates every pointer a master
    * built from the OLD sidecars carries — this helper closes that
    * window by construction instead of by operator discipline: it
    * rebuilds the master from the archive dir's REWRITTEN committed
    * sidecars as one fresh generation and publishes a manifest naming
    * just it. Every epoch tag the previous manifest carried rides onto
    * the new generation (the rebuilt sidecars COVER those epochs'
    * captures — post-compaction they are indistinguishable parts of
    * the one archive), so a late streaming replay still no-ops. Old
    * generations stay for manifest-pinned readers until [[vacuum]] —
    * their index ROWS stay correct; only their archive pointers are
    * stale, which the per-dir manifest gate in `fetchByCdx` catches
    * loudly. Run the pair back-to-back:
    * {{{
    *   WarcIo.compactArchives(spark, warcDir, targetBytes)
    *   CdxIndex.refreshFromArchive(spark, warcDir, masterDir, nShards)
    * }}}
    * The master keeps its recorded sort key (primary or digest), so
    * one archive can refresh both masters.
    */
  def refreshFromArchive(spark: SparkSession, archiveDir: String,
      masterDir: String, nShards: Int): Unit =
    refreshFromArchives(spark, Seq(archiveDir), masterDir, nShards)

  /** [[refreshFromArchive]] over a MULTI-DIRECTORY collection — the
    * streaming shape, where a master spans one epoch subdirectory per
    * micro-batch ([[WarcIo.archiveEpochSink]]) and a maintenance pass
    * compacts SOME of them: the master must republish from EVERY
    * directory's committed sidecars, compacted or not, or it silently
    * shrinks to the dirs it was refreshed from. `archiveDirs` is the
    * complete collection (list the collection root's subdirs); each
    * dir's sidecars already carry their collection-relative prefixes,
    * so the rebuilt pointers keep resolving from the collection root.
    *
    * `tagFromDirNames` closes the crash window a SINK-maintained
    * collection has around this pass: [[WarcIo.archiveEpochSink]]
    * names each epoch's directory by its epoch tag, and a crash
    * between the epoch dir's commit and its master append leaves a
    * committed dir whose tag the manifest does not carry — a refresh
    * rebuilds that dir's rows into the new generation, and a later
    * replay of the epoch would then append them a SECOND time. With
    * `tagFromDirNames = true` every rebuilt dir's BASENAME is recorded
    * as an epoch tag alongside the carried ones, so the replay no-ops.
    * Leave false for collections whose dir names are not epoch tags.
    */
  def refreshFromArchives(spark: SparkSession, archiveDirs: Seq[String],
      masterDir: String, nShards: Int, tagFromDirNames: Boolean = false): Unit = {
    require(archiveDirs.nonEmpty, "refreshFromArchives needs at least one archive dir")
    val (dirPath, fs) = masterFs(spark, masterDir)
    graft.operators.CrawlFrontier.withWriterLock(spark, masterDir) {
      val m = manifestFiles(fs, dirPath).lastOption.getOrElse(
        throw new IllegalStateException(
          s"CdxIndex: $masterDir has no manifest — refreshFromArchive maintains an " +
            "existing generational master; initMaster first"))
      val newSeq = nextManifestId(fs, dirPath).toLong
      val dirTags =
        if (tagFromDirNames)
          archiveDirs.map(d => (new org.apache.hadoop.fs.Path(d).getName, newSeq))
        else Seq.empty
      // carried tags keep their recorded delivery sequence; dir names
      // not already recorded enter at THIS publish's sequence
      val tags = (readManifestEntries(fs, m).flatMap(_._2) ++ dirTags).distinctBy(_._1)
      val id = manifestFiles(fs, dirPath)
        .flatMap(readManifest(fs, _)).map(_.stripPrefix("gen-").toInt)
        .foldLeft(0)(_ max _) + 1
      val gen = f"gen-$id%08d"
      // ONE flat manifest-gated text scan over every dir's committed
      // sidecars — an N-way Union plan over thousands of epoch dirs
      // would cost super-linear analysis time on every refresh
      buildTableKeyed(
        WarcIo.readCdxj(spark,
          archiveDirs.flatMap(d => WarcIo.committedFiles(spark, d, ".cdx.gz"))),
        s"$masterDir/$gen", nShards, readKeyFile(fs, dirPath))
      publishManifest(fs, dirPath, Seq(gen -> tags)); ()
    }
  }

  /** Reclaim generations no longer reachable: keep the newest
    * `keepManifests` manifests and every generation they reference;
    * delete older manifests and unreferenced `gen-*` dirs (including
    * crashed staging residue). `keepManifests >= 2` preserves the
    * previous manifest's generations so lookups pinned just before the
    * latest publication still complete.
    */
  def vacuum(spark: SparkSession, dir: String, keepManifests: Int = 2): Unit = {
    require(keepManifests >= 1, "vacuum must keep at least the current manifest")
    val (dirPath, fs) = masterFs(spark, dir)
    graft.operators.CrawlFrontier.withWriterLock(spark, dir) {
      val manifests = manifestFiles(fs, dirPath)
      val (drop, keep) = manifests.splitAt((manifests.size - keepManifests).max(0))
      val live = keep.flatMap(readManifest(fs, _)).toSet
      drop.foreach(fs.delete(_, false))
      fs.listStatus(dirPath).map(_.getPath)
        .filter(p => p.getName.startsWith("gen-") && !live.contains(p.getName))
        .foreach(fs.delete(_, true))
    }
  }

  /** Bound the manifest's epoch-tag ledger: keep only the LAST
    * `keepTags` tags in DELIVERY order (each tag's recorded manifest
    * sequence — see [[readManifestEntries]]; manifest flatten order
    * does not survive compactions re-homing old tags onto the newest
    * generation) and republish. Unpruned, the ledger grows one tag per
    * epoch forever, so every manifest rewrite and [[hasEpoch]] scan is
    * O(total epochs) — over [[WarcIo.archiveEpochSink]]'s unbounded
    * stream that linear term eventually dominates the per-epoch work.
    * Pruning bounds it at the cost of a REPLAY HORIZON: a replay of a
    * PRUNED tag re-appends its epoch (double-counting its captures),
    * so `keepTags` must exceed the deepest replay the delivery
    * mechanism can produce — structured streaming's foreachBatch
    * replays only the most recent uncommitted epoch, so any
    * `keepTags >= 2` is already generous there. Leave unpruned (the
    * default everywhere) when replays can reach arbitrarily far back.
    */
  def pruneEpochTags(spark: SparkSession, dir: String, keepTags: Int): Unit = {
    require(keepTags >= 1, "pruneEpochTags must keep at least one tag")
    val (dirPath, fs) = masterFs(spark, dir)
    graft.operators.CrawlFrontier.withWriterLock(spark, dir) {
      val m = manifestFiles(fs, dirPath).lastOption.getOrElse(
        throw new IllegalStateException(s"CdxIndex: $dir has no manifest to prune"))
      val entries = readManifestEntries(fs, m)
      val flat = entries.flatMap(_._2)
      if (flat.size > keepTags) {
        // newest keepTags deliveries by recorded sequence; flatten
        // position breaks ties (legacy manifests and batch refreshes
        // can record several tags at one sequence)
        val keep = flat.zipWithIndex
          .sortBy { case ((_, seq), posn) => (seq, posn.toLong) }
          .takeRight(keepTags).map(_._1._1).toSet
        publishManifest(fs, dirPath,
          entries.map { case (gen, tags) => (gen, tags.filter(t => keep(t._1))) }); ()
      }
    }
  }

  /** The current manifest's live generation basenames, oldest first
    * (empty when no manifest exists) — bounded maintenance telemetry;
    * [[WarcIo.archiveEpochSink]]'s per-epoch metrics row records the
    * count before and after its maintenance steps.
    */
  def liveGenerations(spark: SparkSession, dir: String): Seq[String] = {
    val (dirPath, fs) = masterFs(spark, dir)
    manifestFiles(fs, dirPath).lastOption.map(readManifest(fs, _)).getOrElse(Seq.empty)
  }

  /** The per-epoch maintenance metrics [[WarcIo.archiveEpochSink]]
    * appends under `<masterDir>/_metrics` — the archival loop's
    * lag/health surface (rows appended, generation counts before and
    * after maintenance, epoch archive bytes, wall time). At most one
    * row per epoch: replays that no-op on the tag ledger add no row
    * (never a duplicate; a crash between append and metrics write can
    * lose a row — telemetry, not a ledger). [[vacuum]] never touches
    * it (it reclaims only manifests and `gen-*` dirs).
    */
  def epochMetrics(spark: SparkSession, dir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_metrics")
    val parked = new org.apache.hadoop.fs.Path(s"$dir/_metrics__parked")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // dedupe on `epoch` (unique by the sink's ledger): the fold below
    // is non-destructive — its one crash window (compacted part moved
    // in, folded sources not yet deleted) leaves DUPLICATE rows, never
    // missing ones, and the read masks exactly that. A legacy
    // `_metrics__parked` tree (an older build's fold crashed mid-swap)
    // reads in too, so no crash state hides history. Admit only dirs
    // that HOLD parts (the legacy-recovery window can leave `_metrics`
    // freshly mkdir'd and empty — a bare-exists read would crash the
    // poller on schema inference), and tolerate parts a concurrently
    // RUNNING fold deletes between this plan and its execution
    // (`ignoreMissingFiles` — the read completes instead of dying
    // mid-job; a poll racing the fold that closely may observe a
    // subset snapshot for that one read, but the rows are on disk in
    // the fold's moved-in output and the next poll sees them).
    def hasParts(d: org.apache.hadoop.fs.Path): Boolean =
      fs.exists(d) && fs.listStatus(d).exists(_.getPath.getName.endsWith(".parquet"))
    val dirs = Seq(p, parked).filter(hasParts).map(_.toString)
    if (dirs.nonEmpty)
      dirs.map(spark.read.option("ignoreMissingFiles", "true").parquet(_))
        .reduce(_ unionByName _)
        .dropDuplicates("epoch")
    else {
      // no epoch APPLIED yet (fresh master, or deliveries so far all
      // no-op'd on the tag ledger): "no rows yet", never a crash in
      // the monitoring poller
      import spark.implicits._
      Seq.empty[(String, Long, Int, Int, Int, Long, Long)]
        .toDF("epoch", "rows", "gens_before", "gens_after", "gens_folded",
          "archive_bytes", "wall_ms")
    }
  }

  /** Fold `<dir>/_metrics`' per-epoch part files into one —
    * [[WarcIo.archiveEpochSink]] appends one tiny parquet part per
    * applied epoch, and over an unbounded stream the file COUNT (not
    * the bytes — rows are bounded telemetry) would become the cost of
    * every metrics read: the same small-file failure mode
    * [[WarcIo.compactArchives]] closes for archive parts.
    *
    * Fold IN, never swap: the deduplicated fold of the CURRENT part
    * files (plus any legacy `_metrics__parked` tree an older build's
    * crashed swap left) stages under `_metrics__staging`, renames into
    * the live dir under a fresh unique name BESIDE the parts it read,
    * and only then deletes exactly those source parts. Every crash
    * point therefore leaves every row present somewhere (worst case
    * DUPLICATED, which [[epochMetrics]] dedupes and the next fold
    * removes) — there is no state in which history is lost. And
    * because the fold never deletes a part it did not read, a
    * concurrent sink APPEND (which does not take the lease) commutes
    * with it by construction; the lease serializes fold-vs-fold only.
    *
    * The common per-epoch call is a lock-FREE no-op at or under
    * `minFiles` parts (two namenode calls) — acquiring the lease every
    * epoch would fail the streaming batch whenever an operator's
    * maintenance pass transiently holds it, AFTER the epoch applied.
    */
  def compactEpochMetrics(spark: SparkSession, dir: String, minFiles: Int = 64): Unit = {
    require(minFiles >= 1, "minFiles must be positive")
    val p = new org.apache.hadoop.fs.Path(s"$dir/_metrics")
    val parked = new org.apache.hadoop.fs.Path(s"$dir/_metrics__parked")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def parts(): Seq[org.apache.hadoop.fs.Path] =
      if (fs.exists(p))
        fs.listStatus(p).toSeq.map(_.getPath).filter(_.getName.endsWith(".parquet"))
      else Seq.empty
    if (!fs.exists(parked) && parts().size <= minFiles) return
    graft.operators.CrawlFrontier.withWriterLock(spark, dir) {
      val src = parts() // re-list under the lease (fold-vs-fold)
      val legacy = fs.exists(parked)
      if (legacy || src.size > minFiles) {
        val staging = new org.apache.hadoop.fs.Path(s"$dir/_metrics__staging")
        fs.delete(staging, true)
        val srcDfs =
          (if (src.nonEmpty) Seq(spark.read.parquet(src.map(_.toString): _*)) else Nil) ++
            (if (legacy) Seq(spark.read.parquet(parked.toString)) else Nil)
        srcDfs.reduce(_ unionByName _).dropDuplicates("epoch")
          .coalesce(1).write.mode("overwrite").parquet(staging.toString)
        fs.mkdirs(p) // live dir may be absent in the legacy-parked-only state
        fs.listStatus(staging).toSeq.map(_.getPath)
          .filter(_.getName.endsWith(".parquet"))
          .foreach { f =>
            val in = new org.apache.hadoop.fs.Path(p,
              s"part-folded-${java.util.UUID.randomUUID()}.parquet")
            require(fs.rename(f, in), s"compactEpochMetrics: could not move $f to $in")
          }
        src.foreach(fs.delete(_, false))
        fs.delete(parked, true)
        fs.delete(staging, true); ()
      }
    }
  }

  /** The full merge-on-read view: every live generation's rows, one
    * scan. Feed [[changeStats]] or any whole-index aggregate.
    */
  def readMaster(spark: SparkSession, dir: String): DataFrame = {
    val gens = resolveGens(spark, dir)
    spark.read.parquet(gens.map(g => s"$g/cdx"): _*)
  }

  /** One cluster row: per shard file its key range, optional capture-
    * time window, and the cluster file that published it (shard
    * basenames resolve against it — [[resolveShardPath]]).
    */
  private[sources] final case class ClusterEntry(file: String, lo: String,
      hi: String, tsLo: Option[String], tsHi: Option[String], cf: String)

  /** Every generation's cluster rows read DIRECTLY on the driver
    * (parquet-mr row reader) — the cluster is bounded metadata (one
    * tiny row per shard file per generation) and every lookup consults
    * it, so reading it through a distributed scan job paid a full
    * job's scheduling latency per lookup for microseconds of work
    * (measured: 9 jobs / 0.1 task-seconds for one lookupPrefix at
    * sf0.1). Pre-ts-window tables (no `ts_lo`/`ts_hi` columns) read
    * back with None windows, which every consumer treats as "always
    * admit"; rows with a null key bound cannot satisfy any range
    * predicate (SQL null semantics) and are dropped here, exactly as
    * the former DataFrame filter did.
    */
  private def clusterRowsLocal(spark: SparkSession, gens: Seq[String]): Seq[ClusterEntry] = {
    val hconf = spark.sessionState.newHadoopConf()
    gens.flatMap { g =>
      val cdir = new org.apache.hadoop.fs.Path(s"$g/cluster")
      val fs = cdir.getFileSystem(hconf)
      // generations are immutable — memoize the parsed rows per
      // (cluster dir, listing signature): a thousand-lookup session on
      // a years-deep master pays one listing RPC per generation per
      // lookup instead of serially re-reading every cluster part on
      // the driver (guide §5); a rewritten dir changes the signature
      // and re-reads
      val parts = fs.listStatus(cdir)
        .filter { st =>
          val n = st.getPath.getName
          n.startsWith("part-") && n.endsWith(".parquet")
        }
        .sortBy(_.getPath.getName).toSeq
      FooterCache.cached[Seq[ClusterEntry]](
          s"cdxcluster|$cdir|${FooterCache.signature(parts)}") {
        parts.map(_.getPath).flatMap { p =>
          val rd = org.apache.parquet.hadoop.ParquetReader.builder(
            new org.apache.parquet.hadoop.example.GroupReadSupport(), p)
            .withConf(hconf).build()
          try {
            val buf = Seq.newBuilder[ClusterEntry]
            var grp = rd.read()
            while (grp != null) {
              def strOpt(f: String): Option[String] =
                if (!grp.getType.containsField(f) ||
                    grp.getFieldRepetitionCount(f) == 0) None
                else Some(grp.getString(f, 0))
              (strOpt("file"), strOpt("lo"), strOpt("hi")) match {
                case (Some(fl), Some(lo), Some(hi)) =>
                  buf += ClusterEntry(fl, lo, hi, strOpt("ts_lo"), strOpt("ts_hi"),
                    p.toString)
                case _ => () // null key bound: unmatchable by any range
              }
              grp = rd.read()
            }
            buf.result()
          } finally rd.close()
        }
      }
    }
  }

  /** Spark's string comparison is UTF-8 BINARY order (UTF8String);
    * Java's String.compareTo is UTF-16 code-unit order — they diverge
    * between supplementary characters and [U+E000, U+FFFF]. Driver-side
    * cluster pruning must reproduce the engine's order exactly or a
    * boundary key could skip a shard file the scan needs.
    */
  private def cmpUtf8(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Every generation's cluster rows as a DataFrame (LocalRelation —
    * no scan job; broadcast-joinable) with the UNIFORM schema the
    * batch lookups expect. Bounded: one row per shard file per
    * generation.
    */
  private def clusterRows(spark: SparkSession, gens: Seq[String]): DataFrame = {
    import spark.implicits._
    clusterRowsLocal(spark, gens)
      .map(e => (e.file, e.lo, e.hi, e.tsLo.orNull, e.tsHi.orNull, e.cf))
      .toDF("file", "lo", "hi", "ts_lo", "ts_hi", "cf")
  }

  /** The shard files whose [lo,hi] key range intersects ANY of the
    * requested [from,to) ranges — the cluster.idx consultation across
    * every live generation, ONE scan for however many ranges the
    * caller needs ([[lookupDomain]] probes three). Bounded: one row
    * per shard file per generation. Basenames resolve against the
    * generation that published them (recovered from the cluster file's
    * own path, so the table survives relocation).
    */
  private def shardFiles(spark: SparkSession, gens: Seq[String],
      ranges: Seq[(String, String)],
      tsWindow: Option[(String, String)] = None): Seq[String] = {
    // pure driver-side consultation (the rows were already collect()ed
    // before — now they never ride a Spark job at all); comparisons use
    // UTF-8 byte order to match the engine's string semantics exactly.
    // A ts window additionally skips files whose recorded capture-time
    // window cannot intersect it — on a years-deep master this prunes
    // whole GENERATIONS; files with no recorded window (pre-ts-window
    // tables) always admit, the row-level filter keeps answers exact
    clusterRowsLocal(spark, gens)
      .filter { e =>
        ranges.exists { case (from, to) =>
          cmpUtf8(e.hi, from) >= 0 && cmpUtf8(e.lo, to) < 0
        } && tsWindow.forall { case (tsFrom, tsTo) =>
          e.tsLo.isEmpty || e.tsHi.isEmpty ||
            (cmpUtf8(e.tsHi.get, tsFrom) >= 0 && cmpUtf8(e.tsLo.get, tsTo) < 0)
        }
      }
      .map(e => resolveShardPath(e.file, e.cf))
      .distinct.sorted
  }

  /** Resolve one cluster row's shard-file reference: basenames resolve
    * against the generation that published them (recovered from the
    * cluster file's own path, so tables survive relocation); a row
    * carrying a full URI (a table written by an older build that
    * stored absolute input_file_name()s) passes through as-is. ONE
    * definition for every lookup family.
    */
  private def resolveShardPath(name: String, clusterFile: String): String =
    if (name.contains("/")) name
    else clusterFile.substring(0, clusterFile.lastIndexOf("/cluster/")) + s"/cdx/$name"

  /** All index rows whose `surt` falls in any of the half-open
    * `ranges`, scanning only the shards the generations' cluster
    * tables say can hold them — ONE cluster read and ONE pruned scan
    * regardless of how many ranges are probed or how many generations
    * are live. The manifest is pinned here, at construction.
    */
  def lookupRanges(spark: SparkSession, dir: String,
      ranges: Seq[(String, String)]): DataFrame =
    lookupRangesKeyed(spark, dir, "surt", ranges)

  /** [[lookupRanges]] generalized over the index's range key — the
    * digest reverse index ([[buildDigestIndex]]) prunes on `digest`
    * with the identical cluster machinery.
    */
  private def lookupRangesKeyed(spark: SparkSession, dir: String, keyCol: String,
      ranges: Seq[(String, String)],
      tsWindow: Option[(String, String)] = None): DataFrame = {
    require(ranges.nonEmpty, "lookupRanges needs at least one range")
    requireLookupKey(spark, dir, keyCol)
    val gens = resolveGens(spark, dir)
    val files = shardFiles(spark, gens, ranges, tsWindow)
    if (files.isEmpty)
      spark.read.parquet(s"${gens.head}/cdx").limit(0)
    else {
      val inRange = spark.read.parquet(files: _*)
        .filter(ranges.map { case (from, to) => col(keyCol) >= from && col(keyCol) < to }
          .reduce(_ || _))
      tsWindow.fold(inRange) { case (tsFrom, tsTo) =>
        inRange.filter(col("ts") >= tsFrom && col("ts") < tsTo)
      }
    }
  }

  /** All index rows with `from <= surt < to`, scanning only the shards
    * the cluster table says can hold them.
    */
  def lookupRange(spark: SparkSession, dir: String, from: String, to: String): DataFrame =
    lookupRanges(spark, dir, Seq((from, to)))

  /** [[lookupRange]] bounded to a capture-time window
    * `[tsFrom, tsTo)` — ts14 compares lexicographically, so PARTIAL
    * bounds work the way wayback CDX queries spell them ("2026" to
    * "2027" = the year 2026). The per-file ts windows the cluster rows
    * record ([[buildTable]]) prune GENERATIONS as well as key ranges:
    * against a years-deep master, "this host's 2026 captures" reads
    * only the shard files whose window intersects 2026 — an era-bound
    * probe never opens the other eras' generations, the same skip
    * [[resolveNearestAt]] gets from the δ-feedback. Files with no
    * recorded window (pre-ts-window tables) always admit, and the
    * row-level filter makes the answer exact either way.
    */
  def lookupRangeBetween(spark: SparkSession, dir: String, from: String, to: String,
      tsFrom: String, tsTo: String): DataFrame = {
    require(tsFrom.nonEmpty && tsTo.nonEmpty && tsFrom < tsTo,
      s"lookupRangeBetween needs a non-empty half-open ts window, got [$tsFrom, $tsTo)")
    lookupRangesKeyed(spark, dir, "surt", Seq((from, to)), Some((tsFrom, tsTo)))
  }

  /** [[lookupRangeBetween]] over a SURT prefix — see [[lookupPrefix]]
    * for the prefix semantics.
    */
  def lookupPrefixBetween(spark: SparkSession, dir: String, prefix: String,
      tsFrom: String, tsTo: String): DataFrame =
    lookupRangeBetween(spark, dir, prefix,
      prefix + new String(Character.toChars(0x10FFFF)), tsFrom, tsTo)

  /** [[lookupDomain]] bounded to a capture-time window — "everything
    * this registrable domain (and its subdomains) published in 2026":
    * the domain's three key ranges and the ts window prune in the same
    * ONE cluster pass, so an era-bound domain sweep against a
    * years-deep master opens only the intersecting generations' files.
    */
  def lookupDomainBetween(spark: SparkSession, dir: String, reversedDomain: String,
      tsFrom: String, tsTo: String): DataFrame = {
    require(tsFrom.nonEmpty && tsTo.nonEmpty && tsFrom < tsTo,
      s"lookupDomainBetween needs a non-empty half-open ts window, got [$tsFrom, $tsTo)")
    lookupRangesKeyed(spark, dir, "surt", domainRanges(reversedDomain),
      Some((tsFrom, tsTo)))
  }

  /** BATCH lookup: every index row whose `surt` equals a key in
    * `keys` (a DataFrame with a `surt` column — derive it from URLs
    * with `graft_surt`). This is the "re-process THESE 10M URLs"
    * shape: the request set is itself data-sized, so nothing
    * request-sized ever lands on the driver —
    *
    *   1. the cluster tables (one tiny row per shard file per
    *      generation) BROADCAST against the keys to find the shard
    *      files any requested key lands in; only the DISTINCT FILE
    *      list is collected (bounded by shards × generations, like
    *      every lookup here);
    *   2. the pruned scan then LEFT SEMI joins the keys on the exact
    *      `surt` — shuffle-hash, both sides may be large, the index
    *      side is never broadcast.
    *
    * Keys absent from the index simply match nothing (membership
    * checks read the output count); duplicate keys do not duplicate
    * output rows (semi-join semantics). The manifest is pinned at
    * construction like every lookup.
    */
  def lookupBatch(spark: SparkSession, dir: String, keys: DataFrame): DataFrame =
    lookupBatchKeyed(spark, dir, keys, "surt")

  /** [[lookupBatch]] against the DIGEST reverse master: every capture
    * of every content hash in `keys` (a DataFrame with a `digest`
    * column) — the batch takedown/provenance sweep ("purge THESE 10M
    * hashes") with nothing request-sized on the driver.
    */
  def lookupDigestBatch(spark: SparkSession, dir: String, keys: DataFrame): DataFrame =
    lookupBatchKeyed(spark, dir, keys, "digest")

  private def lookupBatchKeyed(spark: SparkSession, dir: String,
      keys: DataFrame, keyCol: String): DataFrame = {
    requireLookupKey(spark, dir, keyCol)
    val gens = resolveGens(spark, dir)
    // the keys plan is consumed TWICE — once for shard discovery, once
    // in the semi join — so it is MATERIALIZED here (localCheckpoint:
    // lineage truncated, blocks pinned) before either pass reads it. A
    // non-deterministic or expensive upstream therefore cannot desync
    // the two passes (a key materializing only in the second run would
    // scan files the pruning pass never admitted → silent misses); if
    // the checkpointed blocks are lost the job fails LOUDLY instead of
    // recomputing divergent keys. Lifecycle: the pinned blocks free
    // when the returned frame's RDD is GC'd (ContextCleaner) — the
    // same per-call checkpoint discipline as resolveRedirects' rounds;
    // a driver loop issuing many batch lookups should drop each result
    // frame before the next call rather than accumulate references.
    val pinned = keys.select(col(keyCol)).localCheckpoint()
    // LocalRelation (driver-read cluster rows): no scan job, and the
    // broadcast below ships the same tiny table it always did
    val clusters = clusterRows(spark, gens)
      .select(col("file"), col("lo"), col("hi"), col("cf"))
    val files = pinned.select(col(keyCol).as("__k"))
      .join(broadcast(clusters), col("__k") >= col("lo") && col("__k") <= col("hi"))
      .select(col("file"), col("cf")).distinct()
      .collect().toSeq
      .map(r => resolveShardPath(r.getString(0), r.getString(1)))
      .distinct.sorted
    if (files.isEmpty)
      spark.read.parquet(s"${gens.head}/cdx").limit(0)
    else
      spark.read.parquet(files: _*)
        .join(pinned.hint("shuffle_hash"), Seq(keyCol), "left_semi")
  }

  /** CDX-server style RESUME-KEY pagination over a key range: the
    * first `limit` captures of `[from, to)` in (surt, ts, filename,
    * offset) order STRICTLY AFTER the resume position — the pagination
    * contract wayback CDX servers expose, and the scale-correct one: a
    * page is a range-pruned scan plus a TakeOrdered cut at `limit`,
    * never a global row_number over the whole listing, and the resume
    * KEY (not a page number) addresses the next page, so the key-range
    * prune advances with the walk — deep pages skip their
    * predecessors' shard files instead of re-sorting them. A
    * million-capture domain lists at the same per-page cost as a
    * ten-capture one.
    *
    * `resumeAfter` is None for the first page, else the (surt, ts,
    * filename, offset) of the LAST row the previous page returned
    * (duplicate-instant captures order by pointer, the
    * [[resolveNearest]]/[[timeMap]] axis, so a page boundary inside a
    * duplicate run cannot skip or repeat a capture). Callers detect
    * the end by a short (or empty) page.
    */
  def lookupRangePage(spark: SparkSession, dir: String, from: String, to: String,
      limit: Int, resumeAfter: Option[(String, String, String, Long)] = None): DataFrame = {
    require(limit > 0, "lookupRangePage limit must be positive")
    val pruned = resumeAfter match {
      case None => lookupRange(spark, dir, from, to)
      case Some((rs, rt, rf, ro)) =>
        require(rs >= from && rs < to,
          s"resume key '$rs' lies outside the page range [$from, $to)")
        // the resume surt tightens the PRUNE (shards wholly before it
        // are never read); the strict-after tuple predicate then drops
        // the already-served head of the resume surt's own run
        lookupRange(spark, dir, rs, to)
          .filter(col("surt") > rs || (col("surt") === rs &&
            (col("ts") > rt || (col("ts") === rt &&
              (col("filename") > rf || (col("filename") === rf &&
                col("offset") > ro))))))
    }
    pruned.orderBy(col("surt"), col("ts"), col("filename"), col("offset"))
      .limit(limit)
  }

  /** [[lookupRangePage]] over a SURT prefix — one page of a host (or
    * any prefix) listing; see [[lookupPrefix]] for the prefix
    * semantics.
    */
  def lookupPrefixPage(spark: SparkSession, dir: String, prefix: String,
      limit: Int, resumeAfter: Option[(String, String, String, Long)] = None): DataFrame =
    lookupRangePage(spark, dir, prefix,
      prefix + new String(Character.toChars(0x10FFFF)), limit, resumeAfter)

  /** All captures under a raw SURT STRING prefix — `"com,example)"` is
    * exactly one host (the `)` terminator excludes `com,examplez`).
    * Implemented as [[lookupRange]] over [prefix, prefix+U+10FFFF).
    * For registrable-DOMAIN semantics use [[lookupDomain]]: a bare
    * `"com,example"` here is a string prefix and would also match the
    * sibling domains `examples.com`, `examplefoo.com`, ….
    */
  def lookupPrefix(spark: SparkSession, dir: String, prefix: String): DataFrame =
    lookupRange(spark, dir, prefix, prefix + new String(Character.toChars(0x10FFFF)))

  /** All captures of a registrable domain AND its subdomains —
    * `lookupDomain(_, _, "com,example")` matches `com,example)…`
    * (apex), `com,example:8080)…` (apex with port) and
    * `com,example,sub)…` (subdomains) but NOT `com,examples)…`: after
    * the domain's reversed labels only `)`/`:`/`,` can follow, so the
    * domain is the union of those three narrow key ranges (digits sort
    * between `,` and `:`, so one wide range would swallow
    * `example2.com`). The three ranges prune in ONE cluster pass and
    * scan ONE union of pruned files ([[lookupRanges]]) — not three
    * separate cluster reads and scans.
    */
  def lookupDomain(spark: SparkSession, dir: String, reversedDomain: String): DataFrame =
    lookupRanges(spark, dir, domainRanges(reversedDomain))

  /** The registrable domain's three half-open key ranges (apex,
    * apex-with-port, subdomains) — ONE definition for every domain
    * lookup spelling, so the separator set and the bare-domain
    * contract cannot diverge between them.
    */
  private def domainRanges(reversedDomain: String): Seq[(String, String)] = {
    require(!reversedDomain.endsWith(")") && !reversedDomain.endsWith(","),
      s"domain lookups take the bare reversed domain (e.g. \"com,example\"), " +
        s"got '$reversedDomain'")
    val hi = new String(Character.toChars(0x10FFFF))
    Seq(")", ":", ",").map(sep =>
      (reversedDomain + sep, reversedDomain + sep + hi))
  }

  /** All captures of ONE URL — the convenience spelling of
    * [[lookupPrefix]] for callers who think in URLs, not SURT keys:
    * the url canonicalizes through the same [[graft.functions.UrlOps
    * .surtKey]] the index was built with, so any spelling variant
    * (case, default port, tracking params, param order, www) resolves
    * to the same capture run. Scheme-different fetches collide by
    * design (the CDX canonicalization contract).
    */
  def lookupUrl(spark: SparkSession, dir: String, url: String): DataFrame = {
    // EXACT key match, not a prefix — the key of /p/1 must not also
    // return /p/10: the half-open range [key, key+NUL) admits the key
    // alone — no key contains a NUL (0x00 never survives surtKey's
    // percent-encoding), so every strict extension sorts above the bound
    val key = graft.functions.UrlOps.surtKey(url)
    lookupRange(spark, dir, key, key + "\u0000")
  }

  // ---------------------------------------------------------- ts14 time axis

  /** ts14 → epoch seconds, parsed under an EXPLICIT UTC zone (CDX
    * timestamps are UTC by convention). A `to_timestamp`-based parse
    * would interpret the digits in the SESSION time zone, where the
    * local axis is non-linear across DST transitions — two captures
    * straddling a fall-back hour would mis-distance by 3600 s and a
    * near-tie nearest pick could flip with
    * `spark.sql.session.timeZone`. NULL for anything that is not a
    * valid 14-digit instant (month 13, Feb 30, trailing junk), so
    * callers can route malformed values loudly.
    */
  private def ts14Epoch(c: Column): Column =
    when(c.rlike("^\\d{14}$"),
      unix_timestamp(call_function("make_timestamp",
        substring(c, 1, 4).cast("int"), substring(c, 5, 2).cast("int"),
        substring(c, 7, 2).cast("int"), substring(c, 9, 2).cast("int"),
        substring(c, 11, 2).cast("int"),
        substring(c, 13, 2).cast("decimal(16,6)"), lit("UTC"))))

  private val Ts14Fmt = java.time.format.DateTimeFormatter
    .ofPattern("uuuuMMddHHmmss")
    .withResolverStyle(java.time.format.ResolverStyle.STRICT)

  /** Driver-side twin of [[ts14Epoch]] (same UTC pin), for the bounded
    * cluster ts windows [[resolveNearestAt]] weighs. None on anything
    * this stricter parser rejects — an unknowable window conservatively
    * ADMITS its files (never skips), and a junk capture ts then fails
    * loudly inside [[resolveNearest]] itself.
    */
  private def ts14EpochOpt(s: String): Option[Long] =
    if (s == null || s.length != 14 || !s.forall(_.isDigit)) None
    else scala.util.Try(java.time.LocalDateTime.parse(s, Ts14Fmt)
      .toEpochSecond(java.time.ZoneOffset.UTC)).toOption

  /** Memento-style NEAREST-capture resolution — the semantics a
    * wayback front-end actually serves (RFC 7089 TimeGate): each
    * request row's (`surt`, `want_ts`) resolves to the index capture
    * minimizing the TIME distance |capture − want| — before OR after
    * the instant — with ties going to the earlier capture (the stable
    * choice). This is the two-sided twin of the as-of resolution
    * `pipeline_wayback` uses (latest at-or-before): a request an hour
    * before a page's only capture must serve that capture, not null.
    *
    * Distance compares EPOCH SECONDS, not ts14 numerics — the digit
    * string is not time-linear across month/year boundaries
    * (20251231235959 is one second before 20260101000000 but
    * numerically ~10^10 away), so a numeric diff would mis-rank
    * captures straddling a boundary. Epochs come from the UTC-pinned
    * [[ts14Epoch]], so distances and tie decisions are invariant to
    * `spark.sql.session.timeZone` (a session-zone parse would warp the
    * axis across that zone's DST transitions).
    *
    * Fail-loud symmetry: a malformed `want_ts` raises per request row,
    * and a NON-NULL index `ts` that is not a ts14 instant raises per
    * capture row (silently treating it as "no capture on this side"
    * would flip the pick toward the other side); captures with a NULL
    * `ts` are not on the time axis at all and are dropped like
    * null-surt rows.
    *
    * Scale shape: ONE spine — [[graft.operators.AsOfJoin.asOfBoth]]
    * resolves the backward AND forward matches over a single hash
    * Exchange (two in-partition window passes), then a row-level pick
    * compares the two distances; no range join, no per-key collect,
    * and the index never shuffles twice. Equal-(surt, ts) captures
    * pick DETERMINISTICALLY (the max (filename, offset) tiebreak —
    * duplicate captures from parallel crawlers are common in real
    * CDX). Requests with no capture on either side come back with
    * null match columns (callers filter or escalate); a malformed
    * `want_ts` fails loudly per row. `index` is index ROWS
    * (readMaster / a pruned lookup result). Against a STORED master,
    * use [[resolveNearestAt]] — it prunes to the request keys' shard
    * files in the engine (and skips provably-irrelevant generations),
    * so the whole archive never rides the spine.
    *
    * Output: every request column plus the matched capture's
    * (`ts`, `filename`, `offset`, `length`).
    */
  def resolveNearest(requests: DataFrame, index: DataFrame): DataFrame = {
    val added = Seq("ts", "filename", "offset", "length")
    require(!requests.columns.exists(added.contains),
      s"resolveNearest adds ${added.mkString(", ")} — rename the request " +
        "columns that collide")
    require(requests.columns.contains("surt") && requests.columns.contains("want_ts"),
      "resolveNearest needs (surt, want_ts) request columns")
    def ep(c: Column) = ts14Epoch(c)
    // validate ONCE per side: a malformed instant must fail loudly —
    // on the request side it would silently resolve to nothing, on the
    // capture side it would silently hand the pick to the other
    // direction (ep(null) poisons the distance comparison)
    val reqs = requests.withColumn("want_ts",
      when(ep(col("want_ts")).isNull,
        raise_error(concat(lit("resolveNearest: want_ts is not a ts14 instant: '"),
          coalesce(col("want_ts"), lit("NULL")), lit("'"))).cast("string"))
        .otherwise(col("want_ts")))
    val capTs = when(ep(col("ts")).isNull,
      raise_error(concat(lit("resolveNearest: index ts is not a ts14 instant: '"),
        col("ts"), lit("'"))).cast("string"))
      .otherwise(col("ts"))
    val caps = index
      .filter(col("surt").isNotNull && col("ts").isNotNull)
      .select(col("surt").as("__cs"), capTs.as("__ct"),
        capTs.as("ts"), col("filename"), col("offset"), col("length"),
        // true (filename, numeric offset) tuple order as ONE string —
        // the same duplicate order timeMap serializes ("f" at offset 9
        // loses to offset 10, and a filename never outranks its own
        // extension: NUL sorts below every filename char, so the
        // string order IS the tuple order — a visible separator like
        // '|' would rank "f.warc" above "f.warc.gz"; a struct key
        // would be exact too but its interpreted per-row comparison
        // measurably slows the spine sort at archive scale)
        ptrTiebreak(col("filename"), col("offset")).as("__tb"))
    val both = graft.operators.AsOfJoin.asOfBoth(reqs, caps,
      "surt", "__cs", "want_ts", "__ct",
      payload = added, rightTiebreak = Some("__tb"))
    val w = ep(col("want_ts"))
    val useBack = col("ts_after").isNull ||
      (col("ts_before").isNotNull &&
        (w - ep(col("ts_before"))) <= (ep(col("ts_after")) - w))
    def pick(name: String) =
      when(useBack, col(name + "_before")).otherwise(col(name + "_after")).as(name)
    both.select(requests.columns.map(col) ++ added.map(pick): _*)
  }

  /** [[resolveNearest]] AS AN ENGINE-COMPOSED LOOKUP against a stored
    * master — the scale-safe TimeGate entry point. Two disciplines the
    * raw form leaves to callers are built in:
    *
    *   1. KEY pruning ([[lookupBatch]]'s shape): the bounded cluster
    *      rows broadcast against the request surts to pick the shard
    *      files any requested key lands in, and the pruned scan LEFT
    *      SEMI joins the keys — the spine carries only the requested
    *      keys' captures, never the whole master (nothing
    *      request-sized lands on the driver).
    *   2. TIME pruning over the per-file ts windows the cluster rows
    *      record ([[buildTable]]): wave 1 admits, PER KEY, the
    *      candidate files whose window sits nearest the request span —
    *      every file tying the key's minimum window distance (files
    *      with no recorded window — pre-ts-window tables — count as
    *      distance 0 and always admit). Per-key seeding matters: a
    *      batch-level "overlaps the span" rule under-admits when
    *      crawls cover disjoint key ranges on different days, leaving
    *      keys unmatched in wave 1 and forcing the fallback to re-read
    *      everything. The wave-1 resolve yields each request's
    *      achieved distance δ; a skipped file is NEEDED only if its
    *      window could reach distance ≤ δ for some request its key
    *      range covers (a strictly-farther window cannot even tie —
    *      the tiebreak would need an equal-ts capture it provably does
    *      not hold, and a request wave 1 left unmatched keeps δ = ∞,
    *      re-admitting all its files). If any file is needed, ONE
    *      second pass re-resolves over the widened set; otherwise the
    *      out-of-window generations were never read — the
    *      wayback-CDX-server property that a probe near "now" does not
    *      scan a years-deep base generation.
    *
    * Exact by construction: the answer equals
    * `resolveNearest(requests, readMaster(dir))` row for row; only the
    * bytes read differ. Output/contract match [[resolveNearest]].
    */
  def resolveNearestAt(spark: SparkSession, dir: String, requests: DataFrame): DataFrame =
    resolveNearestAtPlanned(spark, dir, requests)._1

  /** [[resolveNearestAt]] exposing the admission decision for tests:
    * (result, wave-1 files, wave-2 files — empty when the ts windows
    * proved the rest of the archive irrelevant).
    */
  private[graft] def resolveNearestAtPlanned(spark: SparkSession, dir: String,
      requests: DataFrame): (DataFrame, Seq[String], Seq[String]) = {
    requireLookupKey(spark, dir, "surt")
    require(requests.columns.contains("surt") && requests.columns.contains("want_ts"),
      "resolveNearestAt needs (surt, want_ts) request columns")
    val reserved = Seq("__path", "__klo", "__khi", "__tlo", "__thi")
    require(!requests.columns.exists(reserved.contains),
      s"request columns ${requests.columns.toSeq.intersect(reserved)} collide " +
        "with resolveNearestAt internals")
    val gens = resolveGens(spark, dir)
    // requests feed ≥3 passes (span agg, candidate discovery, the
    // resolve(s)) — pin them once, the lookupBatch discipline: a
    // non-deterministic upstream cannot desync the passes, and lost
    // blocks fail loudly instead of recomputing divergent keys
    val pinned = requests.localCheckpoint()
    val keys = pinned.select(col("surt")).distinct()
    def scanPruned(files: Seq[String]): DataFrame =
      if (files.isEmpty) spark.read.parquet(s"${gens.head}/cdx").limit(0)
      else spark.read.parquet(files: _*)
        .join(keys.hint("shuffle_hash"), Seq("surt"), "left_semi")
    // candidate shard files: cluster rows (bounded — one per shard
    // file per generation) broadcast AGAINST the keys
    val clusters = clusterRows(spark, gens)
    // the request instants' span (two strings; the min rides the same
    // loud validation resolveNearest applies, so a malformed instant
    // fails BEFORE any admission decision is built on it)
    val span = pinned.agg(
      min(when(ts14Epoch(col("want_ts")).isNull,
        raise_error(concat(lit("resolveNearestAt: want_ts is not a ts14 instant: '"),
          coalesce(col("want_ts"), lit("NULL")), lit("'"))).cast("string"))
        .otherwise(col("want_ts"))).as("lo"),
      max(col("want_ts")).as("hi")).head
    val spanEp =
      if (span.isNullAt(0)) None
      else ts14EpochOpt(span.getString(0)).zip(ts14EpochOpt(span.getString(1)))
    // candidate discovery + PER-KEY wave-1 seeding in ONE distributed
    // pass: each key joins ~one cluster row per generation (ranges
    // within a generation are disjoint), so the join output is
    // |keys| × generations rows — never keys × files; the window-min
    // marks, per key, every file tying its minimum window distance
    // (span-overlapping and windowless files are distance 0). Only the
    // bounded per-file summary (path, window, seeded-anywhere flag)
    // lands on the driver. Per-key seeding matters: a batch-level
    // "window overlaps the span" rule under-admits when crawls cover
    // disjoint key ranges on different days — the unmatched keys would
    // null their δ and drag EVERYTHING their ranges cover, deep base
    // included, into wave 2.
    val joined = keys.select(col("surt").as("__k"))
      .join(broadcast(clusters), col("__k") >= col("lo") && col("__k") <= col("hi"))
    val distCol = spanEp match {
      case Some((wlo, whi)) =>
        val tlo = ts14Epoch(col("ts_lo")); val thi = ts14Epoch(col("ts_hi"))
        when(tlo.isNull || thi.isNull, lit(0L))
          .when(thi >= wlo && tlo <= whi, lit(0L))
          .otherwise(least(abs(lit(wlo) - thi), abs(tlo - lit(whi))))
      case None =>
        // no requests / a span instant only the engine-side parser
        // accepts (e.g. a leap second): conservatively unpruned —
        // every candidate seeds wave 1
        lit(0L)
    }
    val keyMin = org.apache.spark.sql.expressions.Window.partitionBy(col("__k"))
    val cands = joined
      .withColumn("__d", distCol)
      .withColumn("__md", min(col("__d")).over(keyMin))
      .groupBy(col("file"), col("cf"), col("lo"), col("hi"),
        col("ts_lo"), col("ts_hi"))
      .agg(max(when(col("__d") === col("__md"), 1).otherwise(0)).as("__seed"))
      .collect().toSeq
      .map { r =>
        val tsLo = ts14EpochOpt(r.getString(4))
        val tsHi = ts14EpochOpt(r.getString(5))
        // a window only the engine-side parser accepts (e.g. a leap
        // second) admits unconditionally — the δ-feedback pass below
        // needs concrete driver-side epochs for every skipped file
        (resolveShardPath(r.getString(0), r.getString(1)),
          r.getString(2), r.getString(3), tsLo, tsHi,
          r.getInt(6) == 1 || tsLo.isEmpty || tsHi.isEmpty)
      }
    val wave1 = cands.filter(_._6).map(_._1).sorted
    // the skipped files keep their windows for the δ-feedback pass;
    // windowless and driver-unparseable windows always seed wave 1,
    // so they never appear here (the .get below is total)
    val rest1 = cands.filterNot(_._6)
    val r1 = resolveNearest(pinned, scanPruned(wave1))
    if (rest1.isEmpty) (r1, wave1, Nil)
    else {
      import spark.implicits._
      // δ-feedback over the wave-1 result: one decision collect reads it,
      // so nothing is pinned; the caller's action runs the returned resolve
      val bdf = rest1.map { case (p, klo, khi, tsLo, tsHi, _) =>
        (p, klo, khi, tsLo.get, tsHi.get)
      }.toDF("__path", "__klo", "__khi", "__tlo", "__thi")
      val w = ts14Epoch(col("want_ts"))
      val delta = when(col("ts").isNotNull, abs(ts14Epoch(col("ts")) - w))
      val mindist = when(w.between(col("__tlo"), col("__thi")), lit(0L))
        .otherwise(least(abs(w - col("__tlo")), abs(w - col("__thi"))))
      val needed = r1.join(broadcast(bdf),
          col("surt") >= col("__klo") && col("surt") <= col("__khi") &&
            (delta.isNull || mindist <= delta))
        .select(col("__path")).distinct()
        .collect().map(_.getString(0)).toSeq.sorted
      if (needed.isEmpty) (r1, wave1, Nil)
      else
        (resolveNearest(pinned, scanPruned((wave1 ++ needed).sorted)),
          wave1, needed)
    }
  }

  /** RFC 7089 TimeMap: ONE URI's complete capture timeline, paged —
    * the enumeration half of [[resolveNearestAt]]'s TimeGate. The url
    * canonicalizes through the same surtKey as [[lookupUrl]], the
    * master prunes to that one key's shard files, and each capture
    * lands on a page: `page` = ⌊seq / pageSize⌋ with `seq` the 0-based
    * position in (ts, filename, offset) order — ascending datetime as
    * the RFC serializes a timemap, duplicate-instant captures ordered
    * deterministically by pointer (the [[resolveNearest]] tiebreak
    * axis). One URI's captures form a single bounded partition (the
    * window partitions on the constant key), so the sort never
    * shuffles more than that key's pruned run. Output:
    * (page, seq, ts, url, digest, filename, offset, length).
    */
  def timeMap(spark: SparkSession, dir: String, url: String, pageSize: Int): DataFrame = {
    require(pageSize > 0, "timeMap pageSize must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).orderBy(col("ts"), col("filename"), col("offset"))
    lookupUrl(spark, dir, url)
      .select(col("ts"), col("url"), col("digest"),
        col("filename"), col("offset"), col("length"))
      .withColumn("seq", row_number().over(w).cast("long") - 1)
      .withColumn("page", floor(col("seq") / pageSize).cast("long"))
      .select(col("page"), col("seq"), col("ts"), col("url"), col("digest"),
        col("filename"), col("offset"), col("length"))
  }

  /** CDX-server `collapse=field:N` thinning: within each URL's
    * timeline (per-`surt`, in the (ts, filename, offset) pointer
    * order every listing surface here serializes), keep only the
    * FIRST capture of each adjacent run whose first `prefixLen` chars
    * of `field` repeat — `collapseCaptures(cdx, "ts", 6)` is wayback's
    * "one capture per URL per month", `("digest", big)` is "only rows
    * where the content changed since the previous fetch". Adjacency,
    * not group-by: a URL that flips A→B→A keeps all three under a
    * digest collapse (the wayback contract — collapse compares each
    * row to its PREDECESSOR, so reversions survive where a distinct
    * would swallow them).
    *
    * Shape: one window per `surt` key (hash exchange + in-partition
    * sort — no global ordering, a key's run is bounded by its own
    * capture count), `lag` + one comparison. NULL field values never
    * equal anything (SQL null semantics) so rows with an unknown
    * digest always survive — thinning is a display aid, silently
    * dropping a capture because its hash is missing would not be.
    */
  def collapseCaptures(cdx: DataFrame, field: String, prefixLen: Int): DataFrame = {
    require(prefixLen > 0, "collapseCaptures prefixLen must be positive")
    require(cdx.columns.contains(field),
      s"collapseCaptures: no '$field' column in ${cdx.columns.mkString("(", ", ", ")")}")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("surt"))
      .orderBy(col("ts"), col("filename"), col("offset"))
    val key = substring(col(field).cast("string"), 1, prefixLen)
    // three-valued logic spelled out: a NULL on EITHER side of the
    // comparison keeps the row (a bare =!= returns null — which filter
    // DROPS — when a null-field capture follows a non-null one)
    cdx.withColumn("__prev", lag(key, 1).over(w))
      .filter(key.isNull || col("__prev").isNull || col("__prev") =!= key)
      .drop("__prev")
  }

  /** The LATEST capture of every URL in `cdx` — wayback's `limit=-1`
    * banner query ("what does the archive currently hold for each
    * page of this host"), and the row set a replay front-end serves
    * when no datetime is asked for. One capture per `surt`: the max
    * of the (ts, filename, offset) tuple, duplicate-instant captures
    * resolved by the same deterministic pointer tiebreak as
    * [[resolveNearest]]/[[timeMap]].
    *
    * Shape: ONE hash aggregation with map-side partial merge —
    * `max_by` over the NUL-joined (ts, filename, offset) axis
    * ([[ptrTiebreak]] — string order equals tuple order, and string
    * keys keep the agg's comparisons on the binary comparator), NOT a
    * row_number window: the agg reduces each key to one row before
    * the exchange (a window would shuffle every capture unreduced,
    * then sort whole partitions just to take row 1).
    */
  def latestCaptures(cdx: DataFrame): DataFrame = {
    Seq("surt", "ts", "filename", "offset").foreach(c =>
      require(cdx.columns.contains(c),
        s"latestCaptures needs a '$c' column, got ${cdx.columns.mkString("(", ", ", ")")}"))
    val axis = concat(col("ts"), lit(0.toChar.toString),
      ptrTiebreak(col("filename"), col("offset")))
    // every non-key column rides the winner row — index schemas vary
    // (externally-ingested CDXJ carries mime/status, a bare crawl
    // sidecar may not carry a digest), and the banner must return
    // whatever the archive recorded for the chosen capture
    val rest = cdx.columns.filter(_ != "surt").toSeq
    cdx.groupBy(col("surt"))
      .agg(max_by(struct(rest.map(col): _*), axis).as("__top"))
      .select(col("surt") +: rest.map(c => col(s"__top.$c").as(c)): _*)
  }

  /** [[latestCaptures]] over a stored master's SURT prefix — the
    * pruned spelling: only the prefix's shard files are read (every
    * live generation consulted, so an URL re-captured since the last
    * compaction resolves to the NEW generation's row).
    */
  def lookupLatest(spark: SparkSession, dir: String, prefix: String): DataFrame =
    latestCaptures(lookupPrefix(spark, dir, prefix))

  /** Merge per-crawl indexes into one re-sorted master table — the
    * ONE-SHOT batch spelling (plain union + [[buildTable]]: the range
    * partitioner re-samples the combined key distribution). Its cost
    * is O(total archive) per merge, so for a LIVING master maintained
    * crawl after crawl use the generational layout instead
    * ([[initMaster]]/[[appendCrawl]]/[[compact]]): appends cost
    * O(new crawl) and the full re-sort runs only at compaction.
    */
  def mergeTables(spark: SparkSession, dirs: Seq[String], out: String, nShards: Int): Unit = {
    require(dirs.nonEmpty, "mergeTables needs at least one source index")
    buildTable(dirs.map(d => spark.read.parquet(s"$d/cdx")).reduce(_ unionByName _),
      out, nShards)
  }

  /** Per-URL change statistics across captures — the adaptive-revisit
    * signal (Heritrix-style: pages observed to change re-crawl sooner).
    * For each SURT key: capture count, distinct content versions
    * (payload digests), first/last fetch time, and `change_rate` =
    * (versions-1)/(captures-1) — 0.0 for never-changed, 1.0 for
    * changed-every-visit, defined 0.0 at a single capture.
    *
    * Shape: TWO hash aggregations, both with map-side partial merge —
    * (surt, digest) collapses repeat captures of one version, then
    * (surt) counts the versions. Deliberately NOT `countDistinct` +
    * string min/max in one agg: a distinct over var-length buffers
    * plans as a single partial-less SortAggregate, shuffling every
    * index row unreduced (PlanQualitySpec pins the hash-agg form).
    * Fetch times aggregate as the ts14 NUMBER (fixed-width buffer)
    * and format back on output. No window, no collect — the output is
    * frontier-priority input at any crawl size. Callers wanting a
    * representative capture per key join the index back on `surt`.
    *
    * External-index hygiene (readCdxj ingests files OTHER tools
    * wrote): a capture with a NULL digest counts toward `n_captures`
    * but never toward `n_versions` (the `countDistinct` null rule —
    * an unknown content hash is not evidence of change, and counting
    * it would schedule needless re-crawls); a non-numeric `ts` fails
    * LOUDLY per row rather than silently nulling the fetch-time span.
    */
  def changeStats(cdx: DataFrame): DataFrame =
    cdx.select(col("surt"), col("digest"),
        when(col("ts").cast("long").isNotNull, col("ts").cast("long"))
          .otherwise(raise_error(concat(lit("changeStats: ts14 expected, got '"),
            coalesce(col("ts"), lit("NULL")), lit("'"))).cast("long")).as("tsl"))
      .groupBy(col("surt"), col("digest"))
      .agg(count(lit(1)).as("n"), min(col("tsl")).as("f"), max(col("tsl")).as("l"))
      .groupBy(col("surt"))
      .agg(sum(col("n")).as("n_captures"), count(col("digest")).as("n_versions"),
        min(col("f")).as("f"), max(col("l")).as("l"))
      .select(col("surt"), col("n_captures"), col("n_versions"),
        lpad(col("f").cast("string"), 14, "0").as("first_ts"),
        lpad(col("l").cast("string"), 14, "0").as("last_ts"),
        when(col("n_captures") > 1,
          greatest(col("n_versions") - 1, lit(0L)).cast("double") / (col("n_captures") - 1))
          .otherwise(lit(0.0)).as("change_rate"))

  /** The cc-index-table shape: CDX rows widened with the typed URL
    * columns a columnar query engine filters on (host, eTLD+1 via the
    * embedded PSL, TLD, path) — so "all .org captures from domain X
    * with status 200" is a parquet predicate-pushdown scan, no SURT
    * string games. Column names follow the public cc-index-table
    * convention (`url_surtkey`, `url_host_name`, …) so queries written
    * against Common Crawl's index port over.
    */
  def toColumnar(cdx: DataFrame): DataFrame = {
    val host = call_function("graft_url_host", col("url"))
    cdx.select(
      col("surt").as("url_surtkey"),
      col("url"),
      host.as("url_host_name"),
      element_at(split(host, "\\."), -1).as("url_host_tld"),
      call_function("graft_url_domain", host).as("url_host_registered_domain"),
      // (?i): external CDX rows keep the original URL spelling —
      // 'HTTP://host/path' must still yield its path
      regexp_extract(col("url"), "(?i)^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)?", 1).as("url_path"),
      col("ts").as("fetch_time"),
      col("status").as("fetch_status"),
      col("mime").as("content_mime_type"),
      col("digest").as("content_digest"),
      col("filename").as("warc_filename"),
      col("offset").as("warc_record_offset"),
      col("length").as("warc_record_length"))
  }
}
