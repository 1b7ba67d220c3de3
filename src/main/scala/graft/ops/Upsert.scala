package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StringType}
import org.json4s._
import org.json4s.JsonDSL._

/** Copy-on-write MERGE verbs at FILE granularity — the core
  * maintenance loop of a lakehouse table (Delta/Iceberg `MERGE INTO` /
  * `DELETE`), built from this engine's own primitives:
  * [[footerBounds]] folds the per-file key min/max manifest out of
  * parquet footers, and only files whose key range intersects the
  * update/delete key set are decoded and rewritten; every other file
  * is HARD-LINKED (local fs; an O(1) metadata op — the stand-in for a
  * production format's manifest reference) or byte-copied (no decode,
  * no re-encode, no shuffle either way).
  *
  * At 100 TB the difference is the whole point: a MERGE that touches
  * 0.1% of keys on a key-clustered table ([[Layout.writeRangeLayout]])
  * rewrites a handful of files instead of the table. The pruning is
  * the manifest consultation made explicit — the same footer stats the
  * engine's scans use for row-group skipping, driving a write-side
  * decision.
  *
  * Contract: `keyCol` is unique per row in both table and updates
  * (primary-key upsert). An update whose key exists replaces that row;
  * a new key is appended; a deleted key vanishes. Output lands at
  * `outPath` (copy-on-write — the input table is immutable history,
  * the caller swaps pointers, which is how lakehouse commits work).
  */
object Upsert {

  private implicit val jsonFormats: Formats = DefaultFormats

  /** Sidecar dir holding the cached per-file key-bounds manifest of a
    * snapshot. Underscore-prefixed, so Spark's data reads skip it. */
  private def manifestDir(snapshot: String) = s"$snapshot/_manifest"

  /** Snapshot-RELATIVE path of `file` under `root` — the manifest key.
    * Equal to the basename on a flat layout (so legacy basename-keyed
    * sidecars stay valid verbatim), and carries the partition
    * directories on a Hive-partitioned layout
    * (`STATECD=10/part-*.parquet`), which is what lets the commit
    * verbs operate on the engine's own `partitionBy` output instead of
    * refusing it. Scheme-proof: compares URI paths, not raw strings —
    * `file:`-prefix drift between a cached manifest and a live listing
    * must not mis-classify files. */
  private[graft] def relPath(root: String, file: String): String = {
    import org.apache.hadoop.fs.{Path => HPath}
    val r = new HPath(root).toUri.getPath.stripSuffix("/")
    val f = new HPath(file).toUri.getPath
    // a single-FILE parquet table lists itself (Layout.listDataFiles
    // returns the file when tablePath IS a regular file) — its
    // manifest key is its basename, same as the flat-dir convention
    if (f == r) new HPath(f).getName
    else {
      require(f.startsWith(r + "/"),
        s"relPath: $file is not under $root")
      f.substring(r.length + 1)
    }
  }

  /** Hive partition-directory value of `colName` in a relative path
    * (`STATECD=10/part-x.parquet` → "10"), unescaping the `%xx` codes
    * Spark's writer applies to special characters. None when the path
    * carries no such segment. A `__HIVE_DEFAULT_PARTITION__` (null)
    * value refuses loudly — a NULL key can never be addressed by the
    * key-pruned engine. */
  private def partitionValueOf(rel: String, colName: String): Option[String] =
    rel.split('/').dropRight(1).collectFirst {
      case seg if seg.startsWith(colName + "=") =>
        val raw = seg.substring(colName.length + 1)
        require(raw != "__HIVE_DEFAULT_PARTITION__",
          s"partition column '$colName' has a null partition — the " +
            "key-pruned engine cannot address NULL keys; fill the key")
        unescapePathName(raw)
    }

  /** Inverse of Spark's `escapePathName` (%xx URI-style codes). */
  private def unescapePathName(s: String): String =
    if (!s.contains('%')) s
    else {
      val sb = new StringBuilder
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '%' && i + 2 < s.length) {
          try {
            sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
            i += 3
          } catch { case _: NumberFormatException => sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }

  /** The Hive partition COLUMN sequence of a snapshot, derived from its
    * files' relative paths (`a=1/b=2/part-x` → Seq(a, b)); empty for a
    * flat layout. Every file must agree — a half-partitioned directory
    * is not a table this engine can commit to. */
  private def partitionColsOf(root: String, files: Seq[String]): Seq[String] = {
    def colsOf(rel: String): Seq[String] =
      rel.split('/').dropRight(1).toSeq.map { seg =>
        val i = seg.indexOf('=')
        require(i > 0,
          s"snapshot $root mixes partition dirs with plain subdirs " +
            s"('$seg' in '$rel') — not a layout the commit engine supports")
        seg.substring(0, i)
      }
    val first = colsOf(relPath(root, files.head))
    files.foreach { f =>
      val c = colsOf(relPath(root, f))
      require(c == first,
        s"snapshot $root has an inconsistent partition layout: " +
          s"${files.head} vs $f")
    }
    first
  }

  /** Past this many files a footer fold ([[footerBounds]]) runs
    * distributed — one `mapPartitions` over the file list, collected;
    * at or below it the driver reads the footers in-process —
    * metadata calls, no Spark job. A typical commit rewrites a handful
    * of files (cost ∝ touched files is the engine's contract), so the
    * common case pays zero jobs; a backfill that rewrites hundreds
    * still fans out. */
  private[graft] val DriverFooterMaxFiles = 32

  /** Per-file key bounds from parquet FOOTERS (row-group stats; no
    * data pages) as driver-held (file, key, mn, mx) rows, keyed by
    * snapshot-RELATIVE path (see [[relPath]]: it survives the
    * link/copy into the next snapshot unchanged, and is scheme-proof)
    * and stored as text that readers cast back to the key's native
    * type (a text min of "9" vs "10" would invert numeric bounds) — the
    * ONE footer fold behind every manifest row (the commit engine's
    * source and fresh-file bounds, [[writeManifestSidecar]],
    * [[writeStatsSidecar]], the change feed's DV leg) and
    * [[AnnIndex]]'s id pruning. Each file's footer is read ONCE for
    * all `keys` ([[foldFooter]]); the fold picks where the reads run
    * ([[DriverFooterMaxFiles]]; `maxDriverFiles` lets a spec pin one
    * placement against the other), and both placements run the same
    * per-file code.
    *
    * A PARTITION column's value lives in the directory name, not in
    * any footer, so when every file carries a `key=` segment the
    * bounds come from the path (mn = mx = the partition value; no
    * footer read) — exactly partition pruning expressed as manifest
    * rows. */
  private[graft] def footerBounds(
      spark: SparkSession, files: Seq[String],
      keys: Seq[(String, DataType)], root: String,
      maxDriverFiles: Int = DriverFooterMaxFiles)
      : Seq[(String, String, String, String)] = {
    val rels = files.map(f => relPath(root, f))
    val (pKeys, dKeys) = keys.partition { case (k, _) =>
      rels.nonEmpty && rels.forall(rel => partitionValueOf(rel, k).isDefined)
    }
    val pRows = for ((k, _) <- pKeys; rel <- rels) yield {
      val v = partitionValueOf(rel, k).get
      (rel, k, v, v)
    }
    pRows ++ footerFacts(spark, files, dKeys, root, None, maxDriverFiles).flatMap(_.bounds)
  }

  /** One file's footer pass: its bounds rows for the data-column keys
    * ([[foldFooter]]) and, under a probe, whether its Bloom filters say
    * it may hold a probed key (`Bloom.mayHold`; None = no filter or an
    * unreadable one, a candidate). */
  private[graft] final case class FooterFacts(
      file: String, bounds: Seq[(String, String, String, String)],
      mayHold: Option[Boolean])

  /** The ONE per-file footer pass behind [[footerBounds]], the Bloom
    * point lookup (`Bloom.readPruned`) and the ANN index's candidate
    * files: each footer is opened ONCE for every data-column key and
    * the probe. No keys and no probe read nothing. Placement: on the
    * driver at or below `maxDriverFiles` files (metadata calls, no
    * Spark job), else one `mapPartitions` over the file list,
    * collected; both run the same per-file code. */
  private[graft] def footerFacts(
      spark: SparkSession, files: Seq[String],
      keys: Seq[(String, DataType)], root: String, probe: Option[Bloom.Probe],
      maxDriverFiles: Int = DriverFooterMaxFiles): Seq[FooterFacts] = {
    val rels = files.map(f => (f, relPath(root, f)))
    if (keys.isEmpty && probe.isEmpty) files.map(FooterFacts(_, Nil, None))
    else if (rels.size <= maxDriverFiles) {
      val conf = spark.sparkContext.hadoopConfiguration
      rels.map { case (f, rel) => foldFooter(conf, f, rel, keys, probe) }
    } else {
      // the session's hadoopConfiguration travels to the executors:
      // a bare `new Configuration()` would drop fs.s3a/hdfs settings
      val serConf = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      val par = math.min(rels.size, spark.sparkContext.defaultParallelism)
      spark.sparkContext.parallelize(rels, math.max(1, par))
        .mapPartitions { it =>
          val conf = serConf.value
          it.map { case (f, rel) => foldFooter(conf, f, rel, keys, probe) }
        }
        .collect().toSeq
    }
  }

  /** ONE file's footer folded for every data-column key: per key, the
    * min/max over its row-group stats after the SQL string cast to the
    * key's type ([[castStat]]), compared in that type's order (strings
    * in UTF8String binary order — the order Spark's min/max uses), and
    * rendered back as cast-to-string text. A key with no non-null
    * value in the file gets NO row: absent row = "no non-null
    * value of this column in the file", so commit pruning treats the
    * file as untouched (an evict key never equals NULL) and a
    * comparison-predicate pruned read skips it (a comparison never
    * matches NULL) — both correct. Stats that are missing or do not
    * cast make the bounds UNKNOWN: a (NULL, NULL) row, never pruned.
    * The probe runs in the same open. */
  private def foldFooter(
      conf: org.apache.hadoop.conf.Configuration, file: String, rel: String,
      keys: Seq[(String, DataType)], probe: Option[Bloom.Probe])
      : FooterFacts = Layout.withFooter(conf, file) { reader =>
    import scala.jdk.CollectionConverters._
    val typeOf = keys.toMap
    val lo = scala.collection.mutable.Map.empty[String, Comparable[Any]]
    val hi = scala.collection.mutable.Map.empty[String, Comparable[Any]]
    val unknown = scala.collection.mutable.Set.empty[String]
    for (bg <- reader.getFooter.getBlocks.asScala;
         cc <- bg.getColumns.asScala;
         k = cc.getPath.toDotString;
         t <- typeOf.get(k)) {
      val st = cc.getStatistics
      if (st == null || st.isEmpty) unknown += k
      else if (st.hasNonNullValue) { // an all-null chunk adds nothing
        val mn = castStat(t, st.minAsString)
        val mx = castStat(t, st.maxAsString)
        if (mn == null || mx == null) unknown += k
        else {
          if (lo.get(k).forall(mn.compareTo(_) < 0)) lo(k) = mn
          if (hi.get(k).forall(mx.compareTo(_) > 0)) hi(k) = mx
        }
      }
    }
    FooterFacts(file, keys.collect {
      case (k, _) if unknown(k) => (rel, k, null, null)
      case (k, _) if lo.contains(k) => (rel, k, lo(k).toString, hi(k).toString)
    }, probe.flatMap(Bloom.mayHold(reader, _)))
  }

  /** `k` inside a manifest row's `[mn, mx]` as `t`; NULL is unbounded. */
  private def inBounds(k: Column, t: DataType): Column =
    (col("mn").isNull || k >= col("mn").cast(t)) &&
      (col("mx").isNull || k <= col("mx").cast(t))

  /** Footer-stat text under Spark's SQL string cast to `t` (the
    * `UTF8String` parsers the cast itself uses: trimmed, width-checked),
    * NULL wherever that cast yields NULL — a garbled or mistyped stat
    * degrades to "no bound" on either placement of the fold instead of
    * throwing on one. Integral values widen to Long: the text a
    * cast-to-string renders is width-independent. */
  private def castStat(t: DataType, s: String): Comparable[Any] = {
    import org.apache.spark.unsafe.types.UTF8String
    if (s == null) return null
    val u = UTF8String.fromString(s)
    val i = new UTF8String.IntWrapper
    val l = new UTF8String.LongWrapper
    val v: AnyRef = t match {
      case StringType => u
      case LongType => if (u.toLong(l)) Long.box(l.value) else null
      case IntegerType => if (u.toInt(i)) Long.box(i.value.toLong) else null
      case ShortType => if (u.toShort(i)) Long.box(i.value.toLong) else null
      case ByteType => if (u.toByte(i)) Long.box(i.value.toLong) else null
      case other => throw new IllegalArgumentException(
        s"footer bounds: unsupported key type ${other.simpleString}")
    }
    v.asInstanceOf[Comparable[Any]]
  }

  /** [[footerBounds]] rows as the manifest's (file, key, mn, mx)
    * frame — a driver-local relation, no job to build. */
  private def boundsFrame(
      spark: SparkSession, rows: Seq[(String, String, String, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("file", "key", "mn", "mx")
  }

  /** `_manifest/_keys.json`: the key columns the sidecar carries rows
    * for, stamped by every manifest writer — a METADATA answer to "does
    * this sidecar cover key X", so the presence check below never runs
    * a Spark job. A JSON array of key-column names. */
  private[graft] def writeManifestKeys(
      spark: SparkSession, snapshotDir: String, keys: Seq[String],
      atomic: Boolean = true): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    val p = new HPath(s"${manifestDir(snapshotDir)}/_keys.json")
    val write = if (atomic) Fs.writeTextAtomic _ else Fs.createText _
    write(Fs.of(snapshotDir, spark), p, Fs.json(keys.distinct))
  }

  private[graft] def readManifestKeys(
      spark: SparkSession, snapshotDir: String): Option[Set[String]] = {
    import org.apache.hadoop.fs.{Path => HPath}
    val p = new HPath(s"${manifestDir(snapshotDir)}/_keys.json")
    Fs.readJson(Fs.of(snapshotDir, spark), p).map(_.extract[Set[String]])
  }

  /** The cached `_manifest` bounds rows for `keyCol`, when the sidecar
    * exists AND carries this key (a sidecar for a different key must
    * not shadow the footer fallback). Key membership comes from the
    * `_keys.json` stamp when present — a metadata read, NO Spark job
    * (the old `limit(1).count()` probe ran one empty-stage job per
    * commit just to test presence).
    *
    * A LEGACY sidecar (no `_keys.json` stamp) is only trusted after
    * its file keys prove a SUBSET of the live listing's relative
    * paths: the pre-r11 writer stamped BASENAME keys without refusing
    * Hive-partitioned layouts, and on such a table the basenames never
    * match the relative-path classification — `touched` comes back
    * empty and a MERGE appends duplicate keys / a DELETE removes
    * nothing, silently. A mismatched legacy sidecar falls back to
    * footers (correct, one sweep) instead. The subset probe is one
    * small job over the sidecar (replacing the old one-row probe);
    * `liveRels` lets callers that already listed the snapshot share
    * the listing (null → list here, lazily — only the legacy path
    * pays it). */
  private[graft] def cachedBounds(
      spark: SparkSession, tablePath: String, keyCol: String,
      liveRels: () => Set[String] = null,
      keysStamp: () => Option[Set[String]] = null)
      : Option[DataFrame] = {
    import org.apache.hadoop.fs.{Path => HPath}
    val md = new HPath(manifestDir(tablePath))
    val fs = md.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new HPath(md, "_SUCCESS"))) None
    // `keysStamp` lets a commit that probes several keys share ONE
    // `_keys.json` read (null → read here)
    else Option(keysStamp).map(_.apply())
        .getOrElse(readManifestKeys(spark, tablePath)) match {
      case Some(keys) =>
        if (!keys.contains(keyCol)) None
        else {
          // a stamped sidecar was written by the current writers, whose
          // row shape is fixed (all-text bounds) — the explicit schema
          // skips parquet schema inference, which launches a Spark job;
          // with it the whole presence path is metadata-only
          val shape = org.apache.spark.sql.types.StructType.fromDDL(
            "file string, key string, mn string, mx string")
          Some(spark.read.schema(shape).parquet(md.toString)
            .filter(col("key") === keyCol))
        }
      case None =>
        // legacy sidecar (pre-_keys.json): inference + the subset probe
        val bounds = Layout.readParquet(spark, Seq(md.toString))
          .filter(col("key") === keyCol)
          // pre-r9 sidecars stored long bounds; normalize to text
          .withColumn("mn", col("mn").cast("string"))
          .withColumn("mx", col("mx").cast("string"))
        val sidecarFiles = bounds.select(col("file")).distinct()
          .collect().map(_.getString(0))
        if (sidecarFiles.isEmpty) None
        else {
          val live = Option(liveRels).map(_.apply()).getOrElse(
            Layout.listDataFiles(spark, tablePath)
              .map(f => relPath(tablePath, f)).toSet)
          if (sidecarFiles.forall(live.contains)) Some(bounds) else None
        }
    }
  }

  /** The key types the manifest can prune on: integral (footer stats
    * round-trip through text exactly) and string (parquet string stats
    * ARE the values; lexicographic min/max is the string ordering).
    * Anything else — float text round-trips, date/timestamp stat
    * encodings — fails loudly instead of silently classifying zero
    * files as touched and appending duplicate keys. */
  private val integralTypes: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType)

  /** The manifest can prune on `dt` — see [[requireSupportedKey]]. */
  private[graft] def isManifestKeyType(dt: DataType): Boolean =
    integralTypes.contains(dt) || dt == StringType

  /** Stamp a snapshot's `_manifest` bounds sidecar for `keyCol` from
    * its parquet footers — footer reads only, no data pass. Layout
    * maintenance that just re-clustered by the key (OPTIMIZE) calls
    * this so the NEXT commit prunes immediately instead of paying the
    * all-files footer fallback once.
    *
    * @return number of data files stamped */
  def writeManifestSidecar(
      spark: SparkSession, snapshotDir: String, keyCol: String): Int = {
    val keyType = Layout.readParquet(spark, Seq(snapshotDir),
      readSchemaSidecar(snapshotDir)).schema(keyCol).dataType
    requireSupportedKey(keyType, keyCol, "manifest stamp")
    val rows = footerBounds(spark,
      Layout.listDataFiles(spark, snapshotDir), Seq(keyCol -> keyType),
      snapshotDir)
    boundsFrame(spark, rows)
      .coalesce(1).write.mode("overwrite").parquet(manifestDir(snapshotDir))
    writeManifestKeys(spark, snapshotDir, Seq(keyCol))
    rows.size
  }

  // -------------------------------------------------------------------
  // General data skipping: the `_manifest` is not limited to commit
  // keys — [[writeStatsSidecar]] stamps per-file bounds for ANY
  // declared column list (Delta's dataSkippingNumIndexedCols shape,
  // restricted to the types whose footer stats round-trip through
  // text: integral + string), the commit engine carries those rows
  // through every commit like key bounds (linked files verbatim,
  // fresh files in the same footer pass), and [[readWhere]] prunes a
  // read's file set on any stamped column with ZERO footer reads —
  // the manifest consultation is the only metadata touched. At 100 TB
  // this is the difference between "Spark's row-group pruning after
  // opening every footer" and "never opening the file at all".
  // -------------------------------------------------------------------

  /** Stamp per-file bounds for `cols` — STATS columns for general
    * data skipping — into the snapshot's `_manifest`, PRESERVING any
    * already-stamped keys (their bounds recompute in the same single
    * footer-stats pass; partition columns resolve from directory
    * names, no read). Subsequent commits carry the stamped columns
    * forward automatically.
    *
    * @return number of manifest rows written */
  def writeStatsSidecar(
      spark: SparkSession, snapshotDir: String, cols: Seq[String]): Int = {
    require(cols.nonEmpty, "writeStatsSidecar: name at least one column")
    val schema = logicalSchema(spark, snapshotDir)
    cols.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"writeStatsSidecar: no column '$c' in " +
          schema.fieldNames.mkString(", "))
      requireSupportedKey(schema(c).dataType, c, "stats stamp")
    }
    // a stamped key no longer in the schema (dropped by a rewrite)
    // falls out here, same as the commit carry
    val allKeys = (readManifestKeys(spark, snapshotDir).getOrElse(Set.empty)
        ++ cols).toSeq.sorted
      .flatMap(k => schema.fields.find(_.name == k).map(f => k -> f.dataType))
      .filter { case (_, t) => isManifestKeyType(t) }
    val files = Layout.listDataFiles(spark, snapshotDir)
    require(files.nonEmpty, s"writeStatsSidecar: no .parquet files under $snapshotDir")
    val rows = footerBounds(spark, files, allKeys, snapshotDir)
    boundsFrame(spark, rows)
      .coalesce(1).write.mode("overwrite").parquet(manifestDir(snapshotDir))
    writeManifestKeys(spark, snapshotDir, allKeys.map(_._1))
    // stamp the schema sidecar while we hold the resolved schema: a
    // stats-stamped table exists to be read through statsPrunedFiles/
    // readWhere, and without `_schema.json` every such read pays a
    // mergeSchema footer sweep — the exact cost the stamp eliminates
    if (readSchemaSidecar(snapshotDir).isEmpty)
      writeSchemaSidecar(snapshotDir, schema, atomic = true) // live dir
    rows.size
  }

  /** Re-stamp a REWRITTEN layout's manifest from its source's stamped
    * key set plus the rewrite's own cluster columns — the OPTIMIZE/
    * ZORDER carry. A layout rewrite replaces every file, so the old
    * manifest rows are useless; without a fresh stamp the maintenance
    * pass that exists to RESTORE pruning silently downgrades the table
    * from zero-footer-read skipping back to footer sweeps (commit
    * pruning pays one sweep and self-heals; `readWhere` never prunes
    * again until someone re-stamps by hand). One footer pass over the
    * new files — maintenance-cadence cost, same job the stamp saves
    * every subsequent read. Columns whose type can't round-trip
    * through footer-stat text are dropped silently (same rule as the
    * commit carry); stamps nothing when nothing qualifies.
    *
    * @return manifest rows written (0 = nothing stampable) */
  def restampAfterRewrite(
      spark: SparkSession, srcPath: String, outPath: String,
      clusterCols: Seq[String]): Int = {
    val schema = logicalSchema(spark, outPath)
    val want = (readManifestKeys(spark, srcPath).getOrElse(Set.empty)
        ++ clusterCols)
      .filter(k => schema.fields.find(_.name == k)
        .exists(f => isManifestKeyType(f.dataType)))
      .toSeq.sorted
    if (want.isEmpty) 0
    else writeStatsSidecar(spark, outPath, want)
  }

  /** The comparison conjuncts of `predicate` the stamped manifest can
    * prune on: (column, survives(mn, mx)) per usable conjunct. Handles
    * `=`, `<`, `<=`, `>`, `>=`, `IN` and `AND` over a stamped column
    * vs a literal (either side); everything else contributes no
    * pruning (correct — pruning may only ever SHRINK the candidate
    * set for predicates a skipped file provably cannot satisfy, and
    * every handled form is comparison-based, which NULL values never
    * satisfy). */
  private def pruneChecks(
      spark: SparkSession, schema: org.apache.spark.sql.types.StructType,
      predicate: Column, stamped: Map[String, DataType])
      : Seq[(String, (String, String) => Boolean)] = {
    import org.apache.spark.sql.catalyst.expressions._
    // ANALYZE the predicate against the table's schema (an empty
    // probe frame — no scan, no job) so the condition arrives as
    // resolved catalyst comparisons, not Spark 4's opaque ColumnNode
    // graph; analysis also type-checks it against the real schema
    def nameOf(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      // a widening integral cast preserves comparison order in the
      // long domain the checks compare in; any other cast (string→int
      // etc) changes the ordering and must NOT prune
      case c: Cast if integralTypes.contains(c.dataType) &&
          integralTypes.contains(c.child.dataType) => nameOf(c.child)
      case _ => None
    }
    // analysis wraps the LITERAL side in a widening cast too when the
    // column is the wider type (`col("longCol") > lit(100)` arrives as
    // `> CAST(100 AS BIGINT)`); mirror nameOf's rule on the literal —
    // fold an integral-widening Cast(Literal) to its value, and let
    // any other cast fall through to "can't prune"
    object LitV {
      def unapply(e: Expression): Option[Any] = e match {
        case Literal(v, _) => Option(v)
        case c: Cast if integralTypes.contains(c.dataType) &&
            c.child.isInstanceOf[Literal] &&
            integralTypes.contains(c.child.dataType) => Option(c.eval(null))
        case _ => None
      }
    }
    // literal → text in the column's comparison domain; None = this
    // conjunct can't prune (type mismatch, null, non-literal)
    def txt(v: Any, t: DataType): Option[String] = v match {
      case null => None
      case s: org.apache.spark.unsafe.types.UTF8String
          if t == StringType => Some(s.toString)
      case s: String if t == StringType => Some(s)
      case n: Byte if integralTypes(t) => Some(n.toString)
      case n: Short if integralTypes(t) => Some(n.toString)
      case n: Int if integralTypes(t) => Some(n.toString)
      case n: Long if integralTypes(t) => Some(n.toString)
      case _ => None
    }
    def cmp(t: DataType): (String, String) => Int =
      if (t == StringType) (a, b) => a.compareTo(b)
      else (a, b) => java.lang.Long.compare(a.toLong, b.toLong)
    def conj(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conj(l) ++ conj(r)
      case x => Seq(x)
    }
    val probe = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    val cond = probe.filter(predicate).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.getOrElse(return Nil)
    def check(attr: Expression, v: Any, op: String)
        : Option[(String, (String, String) => Boolean)] =
      for {
        n <- nameOf(attr)
        t <- stamped.get(n)
        lit <- txt(v, t)
      } yield {
        val c = cmp(t)
        val ok: (String, String) => Boolean = op match {
          case "eq" => (mn, mx) => c(mn, lit) <= 0 && c(lit, mx) <= 0
          case "gt" => (_, mx) => c(mx, lit) > 0
          case "ge" => (_, mx) => c(mx, lit) >= 0
          case "lt" => (mn, _) => c(mn, lit) < 0
          case "le" => (mn, _) => c(mn, lit) <= 0
        }
        n -> ok
      }
    conj(cond).flatMap {
      case EqualTo(a, LitV(v)) => check(a, v, "eq")
      case EqualTo(LitV(v), a) => check(a, v, "eq")
      case GreaterThan(a, LitV(v)) => check(a, v, "gt")
      case GreaterThan(LitV(v), a) => check(a, v, "lt")
      case GreaterThanOrEqual(a, LitV(v)) => check(a, v, "ge")
      case GreaterThanOrEqual(LitV(v), a) => check(a, v, "le")
      case LessThan(a, LitV(v)) => check(a, v, "lt")
      case LessThan(LitV(v), a) => check(a, v, "gt")
      case LessThanOrEqual(a, LitV(v)) => check(a, v, "le")
      case LessThanOrEqual(LitV(v), a) => check(a, v, "ge")
      case In(a, vs) if vs.nonEmpty =>
        val lits = vs.flatMap(LitV.unapply)
        val eqs = lits.flatMap(v => check(a, v, "eq"))
        // all values must fold and convert, else the conjunct can't prune
        if (lits.length == vs.length && eqs.length == vs.length && eqs.nonEmpty)
          Some(eqs.head._1 -> { (mn: String, mx: String) =>
            eqs.exists(_._2(mn, mx)) })
        else None
      case _ => None
    }
  }

  /** The data files of `tablePath` a read under `predicate` must
    * open, decided from the stamped `_manifest` bounds alone — ZERO
    * footer reads. Files without a manifest row for a checked column
    * hold no non-null value of it (the writers' invariant:
    * [[footerBounds]] drops exactly those rows), which no
    * comparison predicate matches — skipped. Columns the predicate
    * constrains but the manifest doesn't stamp simply don't prune.
    *
    * @return (candidate files, total file count) */
  def statsPrunedFiles(
      spark: SparkSession, tablePath: String, predicate: Column)
      : (Seq[String], Int) = {
    import org.apache.hadoop.fs.{Path => HPath}
    val all = Layout.listDataFiles(spark, tablePath)
    val md = new HPath(manifestDir(tablePath))
    val fs = md.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new HPath(md, "_SUCCESS"))) return (all, all.size)
    val stampedNames = readManifestKeys(spark, tablePath).getOrElse(Set.empty)
    if (stampedNames.isEmpty) return (all, all.size)
    val schema = logicalSchema(spark, tablePath)
    val stamped = stampedNames.toSeq
      .flatMap(k => schema.fields.find(_.name == k).map(f => k -> f.dataType))
      .toMap
    val checks = pruneChecks(spark, schema, predicate, stamped)
    if (checks.isEmpty) return (all, all.size)
    val shape = org.apache.spark.sql.types.StructType.fromDDL(
      "file string, key string, mn string, mx string")
    // ONE metadata job per pruned read: the checked-key bounds and the
    // full manifest file set come out of a single collect over a union
    // (bounds rows for the checked keys + a null-key row per distinct
    // file), so the driver holds files × (checked + 1) rows — not
    // files × ALL stamped columns, which a whole-manifest collect
    // would cost on a wide stamp at 100 TB file counts
    val mf = spark.read.schema(shape).parquet(md.toString)
    val rows = mf.filter(col("key").isin(checks.map(_._1).distinct: _*))
      .unionByName(mf.select(col("file")).distinct()
        .select(col("file"), lit(null).cast("string").as("key"),
          lit(null).cast("string").as("mn"), lit(null).cast("string").as("mx")))
      .collect()
    val byKey: Map[String, Map[String, (String, String)]] =
      rows.filter(!_.isNullAt(1))
        .groupBy(_.getString(1)).map { case (k, rs) =>
          k -> rs.map(r => r.getString(0) -> (r.getString(2), r.getString(3)))
            .toMap
        }
    // files the manifest has NO row for under ANY key (vs "no row for
    // this key", which the writers' invariant defines as all-null — see
    // footerBounds): the stamp pass never saw them, so their
    // contents are unknown and skipping them would silently drop data.
    // Unreachable through the commit engine (every fresh file gets its
    // own footer pass), but a hand-added file degrades to
    // correct-but-scanned instead of wrong — the same defensive posture
    // as the legacy-sidecar subset validation on the commit path.
    val manFiles = rows.filter(_.isNullAt(1)).map(_.getString(0)).toSet
    val keep = all.filter { f =>
      val rel = relPath(tablePath, f)
      !manFiles.contains(rel) ||
        checks.forall { case (k, ok) =>
          byKey.getOrElse(k, Map.empty).get(rel) match {
            // a PRESENT row with NULL bounds is unknown, not all-null:
            // scan the file (only an ABSENT row means all-null)
            case Some((mn, mx)) => mn == null || mx == null || ok(mn, mx)
            case None => false
          }
        }
    }
    (keep, all.size)
  }

  /** Read a snapshot under `predicate` with manifest-level data
    * skipping ([[statsPrunedFiles]]): files the stamped bounds prove
    * irrelevant are never opened — no footer read, no scan task. The
    * deletion vector is honored exactly as in [[readWithDeletes]],
    * and the full predicate still applies to the surviving rows (the
    * pruning is a file-set shrink, never a row filter). Falls back to
    * the plain filtered read when nothing prunes. */
  def readWhere(
      spark: SparkSession, tablePath: String, predicate: Column): DataFrame = {
    val (cands, total) = statsPrunedFiles(spark, tablePath, predicate)
    if (cands.size == total)
      return readWithDeletes(spark, tablePath).filter(predicate)
    val schema = readSchemaSidecar(tablePath).getOrElse(
      logicalSchema(spark, tablePath))
    val data =
      if (cands.isEmpty)
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(
            schema.fields.map(_.copy(nullable = true))))
      else {
        val partCols =
          partitionColsOf(tablePath, Layout.listDataFiles(spark, tablePath))
        val r0 = spark.read.schema(schema)
        val r = if (partCols.isEmpty) r0 else r0.option("basePath", tablePath)
        r.parquet(cands: _*)
      }
    subtractDv(spark, tablePath, data).filter(predicate)
  }

  private def requireSupportedKey(dt: DataType, keyCol: String, side: String): Unit =
    require(integralTypes.contains(dt) || dt == StringType,
      s"Upsert: key column '$keyCol' ($side) has type ${dt.simpleString}; " +
        "only integral or string keys are supported — manifest pruning " +
        "compares footer min/max in the key's native type and other " +
        "types don't round-trip through footer-stat text")

  /** [[requireSupportedKey]] for the predicate verbs' key columns in
    * the live schema — checked at entry, before the matched-key scan
    * and collect, rather than inside [[commit]] after them. A column
    * the schema lacks is left to the scan's own analysis error. */
  private def requireSupportedKeys(
      schema: org.apache.spark.sql.types.StructType, keyCols: Seq[String]): Unit =
    keyCols.foreach { k =>
      schema.fields.find(_.name == k)
        .foreach(f => requireSupportedKey(f.dataType, k, "table"))
    }

  /** Clear a previous crashed run's leftovers from a claimed output
    * dir WITHOUT un-claiming it: children delete individually, the dir
    * itself and a remote-claim `_CLAIM` marker survive. (Deleting the
    * whole dir — the old behavior — made the version number invisible
    * to a concurrent `claimNextVersion` for a moment, so two
    * committers could build into the same directory.) */
  private def clearLeftovers(
      ofs: org.apache.hadoop.fs.FileSystem,
      out: org.apache.hadoop.fs.Path): Unit =
    if (ofs.exists(out))
      ofs.listStatus(out)
        .filterNot(_.getPath.getName == "_CLAIM")
        .foreach(st => ofs.delete(st.getPath, true))

  /** Hard-link (same local filesystem; O(1) metadata each) or
    * byte-copy `files` into `outDir`, keeping each file's path
    * RELATIVE to `srcRoot` — so Hive partition directories carry
    * through the copy-on-write link pass (flat layouts degenerate to
    * basenames, as before). Shared by the COW commit's untouched-file
    * pass, [[cloneSnapshot]], and the deletion-vector delete. */
  private def linkOrCopyAll(
      spark: SparkSession, files: Seq[String], srcRoot: String,
      outDir: String): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    if (files.isEmpty) return
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new HPath(files.head).getFileSystem(conf)
    val out = new HPath(outDir)
    val ofs = out.getFileSystem(conf)
    if (!ofs.exists(out)) ofs.mkdirs(out)
    val localLink = fs.getScheme == "file" && ofs.getScheme == "file"
    val madeDirs = scala.collection.mutable.Set.empty[String]
    files.foreach { f =>
      val src = new HPath(f)
      val dst = new HPath(out, relPath(srcRoot, f))
      val parent = dst.getParent
      if (parent != null && madeDirs.add(parent.toString) && !ofs.exists(parent))
        ofs.mkdirs(parent)
      val linked = localLink && {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dst.toUri.getPath),
            java.nio.file.Paths.get(src.toUri.getPath))
          true
        } catch { case _: Exception => false } // cross-device etc → copy
      }
      if (!linked)
        org.apache.hadoop.fs.FileUtil.copy(fs, src, ofs, dst, false, conf)
    }
  }

  /** Every file (data + sidecar payloads) under a sidecar dir of the
    * snapshot, for verbatim carry. */
  private def sidecarFiles(
      spark: SparkSession, snapshot: String, name: String): Seq[String] = {
    import org.apache.hadoop.fs.{Path => HPath}
    val d = new HPath(s"$snapshot/$name")
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(d)) Seq.empty
    else {
      val it = fs.listFiles(d, false)
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val s = it.next()
        if (s.isFile) buf += s.getPath.toString
      }
      buf.toSeq
    }
  }

  /** SHALLOW CLONE (Delta `CLONE` semantics): a new, independent table
    * whose data files are hard links into the source snapshot — O(1)
    * metadata per file, zero data bytes moved, each file's Bloom
    * filters with it — with the `_manifest` and `_dv` sidecars carried
    * verbatim (the files they describe are byte-identical by
    * construction). The clone diverges freely
    * from the source afterwards: COW commits on either side never
    * mutate shared bytes, so neither table can corrupt the other.
    *
    * @return number of data files cloned */
  def cloneSnapshot(
      spark: SparkSession, tablePath: String, outPath: String): Int = {
    import org.apache.hadoop.fs.{Path => HPath}
    val all = Layout.listDataFiles(spark, tablePath)
    require(all.nonEmpty, s"cloneSnapshot: no .parquet files under $tablePath")
    val out = new HPath(outPath)
    val ofs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // empty existing dir (or one holding only a remote-claim _CLAIM
    // marker) = claimed version number (see commit); keep it — and a
    // crash-leftover dir clears its CONTENTS, never the dir or the
    // marker (deleting either would momentarily un-claim the version
    // and let a concurrent claimer grab the same number)
    clearLeftovers(ofs, out)
    linkOrCopyAll(spark, all, tablePath, outPath)
    for (sc <- Seq("_manifest", "_dv")) {
      val fs = sidecarFiles(spark, tablePath, sc)
      if (fs.nonEmpty) linkOrCopyAll(spark, fs, s"$tablePath/$sc", s"$outPath/$sc")
    }
    readSchemaSidecar(tablePath).foreach(writeSchemaSidecar(outPath, _))
    all.size
  }

  // -------------------------------------------------------------------
  // MERGE-ON-READ deletes (deletion vectors): the other half of the
  // write-amplification trade every modern format offers (Delta
  // deletion vectors / Iceberg merge-on-read). COW delete cost is ∝
  // touched file BYTES; a DV delete never rewrites a data file — the
  // deleted key set lands as a `_dv` sidecar and reads subtract it.
  // Read cost grows with the DV, so [[compactDeletes]] folds the DV
  // back into a clean COW rewrite when it gets heavy.
  // -------------------------------------------------------------------

  // -------------------------------------------------------------------
  // Schema sidecar: `_schema.json` records the snapshot's LOGICAL
  // schema (the union across its files after any evolution) — the
  // analog of the schema a transaction-log format keeps in its log.
  // Without it every read of an evolvable snapshot pays a
  // `mergeSchema` footer sweep over EVERY data file (a driver-visible
  // job ∝ file count — ~seconds per read on a 1,600-file table, pure
  // waste on the 100 TB table this engine targets). Commit verbs
  // stamp it (bootstrapping legacy tables with ONE sweep, amortized
  // forever after), metadata-only verbs carry it verbatim, and the
  // readers below use it to skip the sweep; a snapshot without one
  // reads exactly as before.
  // -------------------------------------------------------------------

  private def schemaSidecar(snapshot: String) = s"$snapshot/_schema.json"

  /** @param atomic true ONLY when stamping a LIVE (published) snapshot
    *   a concurrent reader may resolve — [[writeStatsSidecar]]'s
    *   stamp-CURRENT path; every commit-build call site writes into a
    *   pre-publish dir where the publish is the visibility point and
    *   the tmp+rename round-trips are pure overhead (docs/PLANS.md,
    *   round 13: commit-path metadata cost). */
  private[graft] def writeSchemaSidecar(
      snapshotDir: String, schema: org.apache.spark.sql.types.StructType,
      atomic: Boolean = false): Unit = {
    // top-level nullable: linked pre-evolution files surface the new
    // columns as null, so the LOGICAL schema is nullable regardless
    // of what the freshly written files claim
    val nullable = org.apache.spark.sql.types.StructType(
      schema.fields.map(_.copy(nullable = true)))
    import org.apache.hadoop.fs.{Path => HPath}
    val write = if (atomic) Fs.writeTextAtomic _ else Fs.createText _
    write(Fs.of(snapshotDir),
      new HPath(schemaSidecar(snapshotDir)), nullable.json)
  }

  private[graft] def readSchemaSidecar(
      snapshotDir: String): Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.hadoop.fs.{Path => HPath}
    Fs.readTextIfExists(Fs.of(snapshotDir), new HPath(schemaSidecar(snapshotDir)))
      // corrupt sidecar = foreign writer or torn copy — fail loudly,
      // never silently fall back to a sweep that may see other state
      .map(txt => org.apache.spark.sql.types.DataType.fromJson(txt)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** The snapshot's data read WITHOUT a per-read footer sweep when the
    * schema sidecar is present; `mergeSchema` fallback otherwise (the
    * shared resolution for readers AND maintenance rewrites — see
    * Layout's compaction/OPTIMIZE passes). */
  private[graft] def readSnapshotData(
      spark: SparkSession, snapshotDir: String): DataFrame =
    Layout.readParquet(spark, Seq(snapshotDir), readSchemaSidecar(snapshotDir),
      mergeSchema = true)

  /** Logical schema of a snapshot: sidecar, else ONE mergeSchema sweep
    * (the bootstrap price for a table predating the sidecar). */
  private def logicalSchema(
      spark: SparkSession, snapshotDir: String)
      : org.apache.spark.sql.types.StructType =
    readSnapshotData(spark, snapshotDir).schema

  private def unionSchema(
      base: org.apache.spark.sql.types.StructType,
      extra: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    // case-insensitive name match, like unionByName under Spark's
    // default resolution — an evolved column differing only by case
    // must not land twice
    val names = base.fieldNames.map(_.toLowerCase).toSet
    org.apache.spark.sql.types.StructType(
      base.fields ++
        extra.fields.filterNot(f => names.contains(f.name.toLowerCase)))
  }

  private def dvDir(snapshot: String) = s"$snapshot/_dv"

  /** The part files of `snapshot`'s committed `_dv` sidecar, or None
    * when it carries none — the ONE deletion-vector probe (one exists
    * call; the listing only when the `_SUCCESS` marker is there).
    * Byte sums drive the read-side broadcast bound
    * ([[DvBroadcastMaxBytes]]), footer row counts the commit's key
    * count. */
  private[graft] def dvFiles(
      spark: SparkSession, snapshot: String)
      : Option[Seq[org.apache.hadoop.fs.FileStatus]] = {
    import org.apache.hadoop.fs.{Path => HPath}
    val dv = new HPath(dvDir(snapshot))
    val fs = Fs.of(snapshot, spark)
    if (!fs.exists(new HPath(dv, "_SUCCESS"))) None
    else Some(fs.listStatus(dv).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    })
  }

  /** Past this many accumulated DV keys the sidecar stops being a
    * sane broadcast/read-subtraction structure regardless of plan
    * choice — the caller is carrying a delete workload that should
    * have been folded long ago. The write path refuses at this point
    * with the remedy named, instead of building a table whose every
    * read degrades. ~128M longs ≈ 1 GiB of broadcast-side state. */
  val MaxDvKeys: Long = 128L * 1000 * 1000

  /** Soft-delete `keys` WITHOUT rewriting any data file: the output
    * snapshot links every data file and carries the sidecars; the
    * union of the previous DV (if any) and this batch's keys lands as
    * `_dv` (one column, named `keyCol`, native type — readers discover
    * the key from the sidecar schema). Commit cost ∝ delete batch, not
    * table. Read the table through [[readWithDeletes]].
    *
    * The DV write is SHARDED (~`rowsPerDvFile` keys per parquet file)
    * — a single-file DV funnels the whole accumulated key set through
    * one task at every commit and caps at one machine's memory; shards
    * keep the union/distinct and the write parallel at any DV size.
    * Accumulation past [[MaxDvKeys]] refuses with the remedy named
    * ([[compactDeletes]]) rather than degrade every subsequent read.
    *
    * @return (data files linked, total DV keys after the commit) */
  def deleteByKeyDV(
      spark: SparkSession, tablePath: String, outPath: String,
      keys: DataFrame, keyCol: String,
      rowsPerDvFile: Long = 4L * 1000 * 1000): (Int, Long) = {
    import org.apache.hadoop.fs.{Path => HPath}
    val all = Layout.listDataFiles(spark, tablePath)
    require(all.nonEmpty, s"deleteByKeyDV: no .parquet files under $tablePath")
    val out = new HPath(outPath)
    val ofs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    clearLeftovers(ofs, out)
    linkOrCopyAll(spark, all, tablePath, outPath)
    val mf = sidecarFiles(spark, tablePath, "_manifest")
    if (mf.nonEmpty) linkOrCopyAll(spark, mf, s"$tablePath/_manifest", s"$outPath/_manifest")
    // a DV commit never changes the logical schema — carry the sidecar
    readSchemaSidecar(tablePath).foreach(writeSchemaSidecar(outPath, _))
    val prevDv = new HPath(dvDir(tablePath))
    val pfs = prevDv.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batch = keys.select(col(keyCol))
    val merged =
      if (pfs.exists(new HPath(prevDv, "_SUCCESS")))
        Layout.readParquet(spark, Seq(prevDv.toString)).select(col(keyCol))
          .unionByName(batch).distinct()
      else batch.distinct()
    val n = merged.count()
    require(n <= MaxDvKeys,
      s"deleteByKeyDV: accumulated deletion vector would hold $n keys " +
        s"(cap $MaxDvKeys) — fold it into a COW rewrite first " +
        "(Upsert.compactDeletes), then resume merge-on-read deletes")
    val parts = math.max(1L, (n + rowsPerDvFile - 1) / rowsPerDvFile).toInt
    // shard count from n alone — probing merged.rdd.getNumPartitions
    // would force the union/distinct stages to EXECUTE under AQE just
    // to read a count (docs/PLANS.md rule 9), then the write re-runs
    // them; one round-robin shuffle of the key set is the cheaper deal
    merged.repartition(parts).write.mode("overwrite").parquet(dvDir(outPath))
    writeCommitInfo(outPath, "DELETE_DV", Seq(
      "files_linked" -> all.size.toLong, "dv_keys" -> n))
    (all.size, n)
  }

  /** Below this many DV sidecar BYTES the read path subtracts the DV
    * as a broadcast anti-join (hash lookup per row, no shuffle of the
    * data side); above it, a shuffle anti-join — slower per row but
    * bounded by executor memory, not driver/broadcast limits. Byte
    * size is read from the sidecar's file statuses — a metadata call,
    * no job. 64 MiB ≈ 8M long keys. */
  val DvBroadcastMaxBytes: Long = 64L << 20

  /** Per-eval array bound for [[changeDataFeed]]'s row replication:
    * a row value netting N copies explodes ceil(N/chunk) chunk ids,
    * then at most `chunk` elements per chunk — never one N-element
    * array in a single expression eval. 4096 longs = 32 KiB per eval,
    * and the outer array stays under sequence()'s ~2.1B cap up to
    * N ≈ 8.8e12 copies. */
  val ReplicateChunk: Int = 4096

  /** Read a snapshot MINUS its deletion vector (merge-on-read): an
    * anti-join against the key column the DV names — broadcast while
    * the sidecar is small ([[DvBroadcastMaxBytes]]), shuffle past it
    * (an unconditional broadcast of an unbounded accumulated key set
    * is a driver OOM waiting for the table that deletes the most).
    * A snapshot without a `_dv` sidecar reads as-is. */
  def readWithDeletes(
      spark: SparkSession, tablePath: String,
      broadcastMaxBytes: Long = DvBroadcastMaxBytes): DataFrame =
    subtractDv(spark, tablePath,
      readSnapshotData(spark, tablePath), broadcastMaxBytes)

  /** Anti-join `data` with the snapshot's `_dv` sidecar, if any —
    * the shared merge-on-read leg of [[readWithDeletes]] and
    * [[readWhere]]. */
  private def subtractDv(
      spark: SparkSession, tablePath: String, data: DataFrame,
      broadcastMaxBytes: Long = DvBroadcastMaxBytes): DataFrame = {
    dvFiles(spark, tablePath) match {
      case None => data
      case Some(parts) =>
        val keys = Layout.readParquet(spark, Seq(dvDir(tablePath)))
        val keyCol = keys.schema.fieldNames.head
        val dvSide =
          if (parts.map(_.getLen).sum <= broadcastMaxBytes) broadcast(keys)
          else keys
        data.join(dvSide, Seq(keyCol), "left_anti")
    }
  }

  /** Fold an accumulated deletion vector back into a clean COW
    * rewrite: the standard maintenance step once merge-on-read cost
    * outweighs write amplification. Exactly [[deleteByKey]] driven by
    * the DV — manifest-pruned, only key-range-intersecting files
    * decode — and the output snapshot carries NO `_dv`.
    *
    * @return (filesCopied, filesRewritten, dvKeysFolded) */
  def compactDeletes(
      spark: SparkSession, tablePath: String, outPath: String): (Int, Int, Long) = {
    import org.apache.hadoop.fs.{Path => HPath}
    val dv = new HPath(dvDir(tablePath))
    val fs = dv.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new HPath(dv, "_SUCCESS")),
      s"compactDeletes: no deletion vector under $tablePath")
    val keys = Layout.readParquet(spark, Seq(dv.toString))
    val keyCol = keys.schema.fieldNames.head
    val (c, r, n) = deleteByKey(spark, tablePath, outPath, keys, keyCol)
    // re-stamp over deleteByKey's: the audit row should name the verb
    // the USER ran
    writeCommitInfo(outPath, "COMPACT_DELETES", Seq(
      "files_copied" -> c.toLong, "files_rewritten" -> r.toLong,
      "dv_keys_folded" -> n))
    (c, r, n)
  }

  /** Past this many keys in one commit batch the evict anti-join stops
    * broadcasting and falls back to a shuffle anti-join — a MERGE fed
    * a hundred-million-key batch must not OOM the driver building a
    * broadcast relation. The count comes free from the public verbs
    * (they count their batch for the return value anyway). */
  val CommitBroadcastMaxKeys: Long = 4L * 1000 * 1000

  /** The shared commit engine behind [[upsertByKey]] and
    * [[deleteByKey]]: prune by manifest, link/copy untouched files,
    * rewrite touched files minus `evictKeys`, append `append` (if
    * any), and commit the new snapshot's manifest sidecar with carried
    * rows for linked files + fresh footer stats for written ones.
    *
    * COMPOSITE KEYS: `keyCols` may name several columns (the natural
    * grain of most analytic tables — e.g. the annualized FIA table's
    * `(tree_ID, YEAR)`, the key of every reference re-attach,
    * `R/estimate_carbon.R:92-104`). File pruning consults the LEADING
    * component's bounds (the manifest carries per-file bounds for every
    * key column, but a tuple range is only meaningfully orderable by
    * its first component); eviction matches the FULL tuple. A table
    * clustered by its leading key keeps commit cost ∝ touched files at
    * any key arity.
    *
    * A snapshot carrying a `_dv` deletion-vector sidecar FOLDS it here:
    * the DV keys join the evict set, so DV-deleted rows stay deleted
    * across the commit and the output snapshot is DV-free (a plain
    * carry would re-mask freshly upserted keys; dropping it — the
    * round-9 defect — resurrected every soft-deleted row). A key in
    * both the DV and the update batch comes back as the update: evict
    * runs before append, which is MERGE semantics — an explicit upsert
    * of a deleted key is a deliberate resurrection. A DV naming
    * DIFFERENT columns than this commit's keys cannot be folded
    * (pruning and eviction are keyed) and refuses with the remedy
    * named.
    *
    * @param evictKeys frame of `keyCols` tuples to remove from touched
    *                  files
    * @param append    rows to add after eviction (the upsert payload);
    *                  None for a pure delete
    * @param nKeysHint caller-known row count of `evictKeys` (before
    *                  any distinct) — plus a folded DV's footer row
    *                  count, it drives the localization and broadcast
    *                  decisions without an extra job
    * @return (filesCopied, filesRewritten) */
  /** @param evictDistinct caller guarantees `evictKeys` already holds
    *   DISTINCT key tuples (the predicate verbs derive it via
    *   `.distinct()`), so the engine can skip its own distinct pass —
    *   one aggregation exchange per verb — whenever no DV fold widens
    *   the set and the key types need no cast.
    * @param evictRangeHint the evict set's leading-key (min, max)
    *   already rendered via `cast(string)` of the native type — the
    *   verbs compute it inside an aggregation they pay anyway
    *   (matchedStats / the batch count), sparing the engine its own
    *   range job. Outer None = not provided (compute here); Some(None)
    *   = provided and known empty (all-NULL keys). Ignored when a DV
    *   fold widens the evict set — the TxnInfo range must cover the DV
    *   keys too (the OCC conflict contract). */
  private def commit(
      spark: SparkSession, tablePath: String, outPath: String,
      evictKeys: DataFrame, append: Option[DataFrame], keyCols: Seq[String],
      allowSchemaEvolution: Boolean, nKeysHint: Long,
      knownLogical: Option[org.apache.spark.sql.types.StructType] = None,
      evictDistinct: Boolean = false,
      evictRangeHint: Option[Option[(String, String)]] = None)
      : (Int, Int) = {
    import org.apache.hadoop.fs.{Path => HPath}

    require(keyCols.nonEmpty, "Upsert.commit: at least one key column")
    require(keyCols.distinct == keyCols,
      s"Upsert.commit: duplicate key columns in ${keyCols.mkString(", ")}")
    val all = Layout.listDataFiles(spark, tablePath)
    require(all.nonEmpty, s"Upsert.commit: no .parquet files under $tablePath")

    // ---- deletion-vector fold (see scaladoc above) ----
    val dvParts = dvFiles(spark, tablePath)
    val dvKeys: Option[DataFrame] = dvParts.map { _ =>
      val dvDf = Layout.readParquet(spark, Seq(dvDir(tablePath)))
      val dvCols = dvDf.schema.fieldNames.toSeq
      require(dvCols == keyCols,
        s"Upsert.commit: snapshot $tablePath carries a deletion vector " +
          s"on '${dvCols.mkString(", ")}' but this commit merges on " +
          s"'${keyCols.mkString(", ")}' — a commit can't fold a " +
          "foreign-key DV; run Upsert.compactDeletes on the snapshot first")
      dvDf.select(keyCols.map(col): _*)
    }
    val evictAll = dvKeys match {
      case Some(d) => evictKeys.select(keyCols.map(col): _*).unionByName(d)
      case None => evictKeys
    }
    // the evict set's exact row count: the batch plus the DV's footer
    // row counts (metadata reads, only when a DV is carried) — it
    // drives the localization ([[keySide]]) and broadcast decisions
    val nKeys = nKeysHint + dvParts.fold(0L) { parts =>
      import scala.jdk.CollectionConverters._
      val conf = spark.sparkContext.hadoopConfiguration
      parts.map(p => Layout.readFooter(conf, p.getPath.toString)
        .getBlocks.asScala.map(_.getRowCount).sum).sum
    }

    // The table's LOGICAL schema (sidecar, or one bootstrap sweep —
    // callers that already resolved it pass it through, sparing legacy
    // tables a repeat sweep): the key types come from HERE, not from
    // one arbitrary file's footer — a key column added by schema
    // evolution is absent from pre-evolution footers, and `all.head`
    // is typically the oldest linked file.
    val baseLogical = knownLogical.getOrElse(logicalSchema(spark, tablePath))
    keyCols.foreach { k =>
      require(baseLogical.fieldNames.contains(k),
        s"Upsert.commit: key column '$k' is not in the table's " +
          s"schema (${baseLogical.fieldNames.mkString(", ")})")
    }
    val keyTypes = keyCols.map(baseLogical(_).dataType)
    keyCols.zip(keyTypes).foreach { case (k, t) =>
      requireSupportedKey(t, k, "table")
      requireSupportedKey(evictAll.schema(k).dataType, k, "updates")
      require((t == StringType) == (evictAll.schema(k).dataType == StringType),
        s"Upsert: key column '$k' is ${t.simpleString} in the table " +
          s"but ${evictAll.schema(k).dataType.simpleString} in the update " +
          "batch — implicit casts here would corrupt pruning; align the types")
    }
    val leadCol = keyCols.head
    val leadType = keyTypes.head

    // the live listing's relative paths, shared by every sidecar
    // validation below (computed at most once, only when a legacy
    // unstamped sidecar needs the subset probe)
    lazy val liveRels: Set[String] = all.map(f => relPath(tablePath, f)).toSet

    // the source's `_keys.json` stamp, read ONCE per commit and shared
    // by every key's sidecar lookup below
    lazy val srcStamp: Option[Set[String]] = readManifestKeys(spark, tablePath)

    // STATS columns — stamped manifest keys beyond this commit's
    // keyCols ([[writeStatsSidecar]]) — carry through like key bounds:
    // linked files' rows ride verbatim, fresh files get their bounds
    // in the same single footer pass, and the new stamp keeps them, so
    // general data skipping survives any number of commits. A stamped
    // column absent from the logical schema (dropped by a rewrite)
    // falls out of the stamp here.
    val extraKeys: Seq[(String, DataType)] =
      srcStamp
        .map(_ -- keyCols).getOrElse(Set.empty)
        .toSeq.sorted
        .flatMap(k => baseLogical.fields.find(_.name == k)
          .map(f => k -> f.dataType))
        .filter { case (_, t) => isManifestKeyType(t) }
    // Per-FILE bounds of every key the new manifest carries (the
    // commit's keys, leading first, then the stats columns): each
    // resolves from the cached sidecar when it covers the key
    // ([[cachedBounds]] — resolved ONCE per key: a legacy unstamped
    // sidecar runs a probe job per call), and ALL misses share ONE
    // footer fold over the source files, held on the driver (bootstrap
    // price, paid once — never once per key). The leading key's rows
    // drive pruning; all of them carry into the new manifest.
    val srcKeys = keyCols.zip(keyTypes) ++ extraKeys
    val cached = srcKeys.map { case (k, _) =>
      cachedBounds(spark, tablePath, k, () => liveRels, () => srcStamp)
    }
    val missing = srcKeys.zip(cached).collect { case (kt, None) => kt }
    val folded =
      if (missing.isEmpty) Nil else footerBounds(spark, all, missing, tablePath)
    val manifest = cached.head.getOrElse(
      boundsFrame(spark, folded.filter(_._2 == leadCol)))

    // distinct key TUPLES, cast to native types, positionally renamed
    // __k0..__kN — pruning consults the leading component, eviction the
    // full tuple. When the caller guarantees distinctness, no DV fold
    // widened the set, and the casts are identity, the engine's own
    // distinct pass (one aggregation exchange per verb) is redundant.
    val castIdentity = keyCols.zip(keyTypes).forall { case (k, t) =>
      evictAll.schema(k).dataType == t
    }
    val upKeys0 = evictAll.select(
      keyCols.zip(keyTypes).zipWithIndex.map { case ((k, t), i) =>
        col(k).cast(t).as(s"__k$i")
      }: _*)
    // The touched-file probe and the eviction anti-join are separate
    // executions over ONE key side ([[keySide]]). When the caller
    // already passed a localized key set (the predicate verbs), its
    // collect here runs without any job at all.
    val upKeys = keySide(spark, upKeys0, nKeys,
      isDistinct = evictDistinct && dvKeys.isEmpty && castIdentity)

    // a file is TOUCHED iff some evict tuple's LEADING component falls
    // inside its bounds — manifest is small (one row per file), so it
    // broadcasts against the distinct keys; bounds compare in the key's
    // NATIVE type. A single-component key is already lead-distinct
    // (upKeys is tuple-distinct), so the extra distinct pass is
    // composite-key-only. An EMPTY evict set with no DV fold touches
    // nothing — the verbs' no-match commits skip the probe job outright
    // (nKeysHint == 0 asserts an empty evict set; every caller passes
    // the set's own count).
    val touched =
      if (nKeysHint == 0L && dvKeys.isEmpty) Set.empty[String]
      else {
        val leadKeys =
          if (keyCols.size == 1) upKeys.select(col("__k0"))
          else upKeys.select(col("__k0")).distinct()
        broadcast(manifest)
          .join(leadKeys,
            inBounds(col("__k0"), leadType),
            "left_semi")
          .select(col("file")).collect().map(_.getString(0)).toSet
      }
    // classification is by snapshot-RELATIVE path (what the manifest
    // stores): unique by construction on any layout, including Hive
    // partition dirs whose part-NNNNN basenames repeat across
    // partitions. The partition COLUMN sequence (empty when flat)
    // drives the rewrite's partitionBy below, so fresh files land in
    // the same directory scheme the linked files keep.
    val partCols = partitionColsOf(tablePath, all)
    partCols.foreach { pc =>
      require(baseLogical.fieldNames.contains(pc),
        s"Upsert.commit: partition column '$pc' (from the directory " +
          s"layout) is missing from the logical schema " +
          s"(${baseLogical.fieldNames.mkString(", ")}) — read the table " +
          "through its root so partition discovery surfaces it")
    }
    val untouched = all.filterNot(f => touched.contains(relPath(tablePath, f)))
    val touchedPaths = all.filter(f => touched.contains(relPath(tablePath, f)))

    val out = new HPath(outPath)
    val ofs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an EXISTING dir may be a claimed version number from the
    // optimistic-concurrency protocol (plans.LakehouseSql): leftovers
    // from a crashed previous run clear CONTENT-wise — the dir and any
    // _CLAIM marker stay, because deleting either reopens the claim
    // race window (a concurrent claimNextVersion would stop seeing the
    // version and hand the same number to another committer)
    clearLeftovers(ofs, out)
    ofs.mkdirs(out)

    // Untouched files: HARD-LINK when both ends are the local
    // filesystem (an O(1) metadata op per file — the local-fs stand-in
    // for the manifest-reference a production table format uses, which
    // is what keeps commit cost ∝ touched files, not table size), else
    // byte-copy. Safe because this layout never mutates a shipped
    // parquet file — snapshots share immutable content.
    linkOrCopyAll(spark, untouched, tablePath, outPath)

    // Decode touched files THROUGH the logical schema. After a
    // schema-evolving commit a snapshot mixes old- and new-schema
    // files, and a bare read takes ONE file's schema for all of them
    // — survivors from a post-evolution file silently LOST their
    // evolved column values in the rewrite (caught by
    // SchemaLineagePropSpec's random verb chains). The explicit
    // schema null-fills pre-evolution files and preserves every
    // stored value.
    val survivors =
      if (touchedPaths.isEmpty) None
      else {
        // basePath keeps partition-directory columns alive on a direct
        // file read of a Hive layout; only set there — Spark refuses a
        // non-directory basePath, and a single-FILE table's path is one
        val reader0 = spark.read.schema(baseLogical)
        val reader =
          if (partCols.isEmpty) reader0
          else reader0.option("basePath", tablePath)
        val touchedRows = reader.parquet(touchedPaths: _*)
        // broadcast while the key batch is provably small; a huge
        // MERGE batch anti-joins by shuffle instead of OOMing the
        // driver on the broadcast build
        val evictSide =
          if (nKeys <= CommitBroadcastMaxKeys) broadcast(upKeys) else upKeys
        // FULL-tuple eviction: a row survives unless every key component
        // matches (a NULL component never equi-joins, so NULL-keyed rows
        // always survive — same semantics at any arity)
        val cond = keyCols.zip(keyTypes).zipWithIndex.map { case ((k, t), i) =>
          touchedRows(k).cast(t) === col(s"__k$i")
        }.reduce(_ && _)
        Some(touchedRows.join(evictSide, cond, "left_anti"))
      }
    // The append lands in FRESH parquet files whose physical types
    // must match the logical schema — a batch whose `v` is int on a
    // long table would otherwise commit INT32 files that every later
    // sidecar-driven read fails to decode (and the union's implicit
    // coercion would mask it on the touched path). Name-matched
    // columns cast to the table's type (ANSI mode faults a lossy
    // cast loudly); evolution-added columns keep their own.
    val alignedAppend = append.map { a =>
      val baseTypes =
        baseLogical.fields.map(f => f.name.toLowerCase -> f.dataType).toMap
      a.select(a.schema.fields.map { f =>
        baseTypes.get(f.name.toLowerCase) match {
          case Some(t) if t != f.dataType => col(f.name).cast(t).as(f.name)
          case _ => col(f.name)
        }
      }.toSeq: _*)
    }
    val rewritten = (survivors, alignedAppend) match {
      case (Some(s), Some(a)) =>
        // survivors carry the FULL logical schema, so unionByName is
        // the drift check in BOTH directions: an update batch with
        // new columns refuses without the evolution flag, and one
        // MISSING an evolved column refuses too (it used to silently
        // ride or corrupt depending on which files were touched)
        Some(s.unionByName(a, allowMissingColumns = allowSchemaEvolution))
      case (Some(s), None) => Some(s)
      case (None, Some(a)) =>
        if (!allowSchemaEvolution) {
          // no touched files, so the survivors union can't check drift
          // — an all-new-keys batch must obey the same contract
          val probe = spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](), baseLogical)
          probe.unionByName(a) // analysis-time drift check; never executed
          ()
        }
        Some(a)
      case (None, None) => None
    }
    // one output file per touched input file (1 for a pure append) —
    // without the coalesce, the rewrite lands one part file per
    // partition of the update union and every commit SHATTERS the
    // snapshot a little more (4 files became 9 in one commit when this
    // was missing), growing the manifest and defeating the layout
    // a Hive layout keeps its directory scheme: fresh files land under
    // the same partition dirs (partitionBy), so linked and rewritten
    // files read back as ONE consistent partitioned table
    // fresh files filter the columns the source files filter (one
    // footer read): the data decides, no opt-in record
    rewritten.foreach { rw =>
      val w = Bloom.write(rw.coalesce(math.max(1, touched.size)).write.mode("append"),
        Bloom.columnsOf(spark, all.head))
      if (partCols.isEmpty) w.parquet(outPath)
      else w.partitionBy(partCols: _*).parquet(outPath)
    }

    // Commit the NEW snapshot's manifest sidecar: bounds for the linked
    // files CARRY OVER (their bytes didn't change), and only the
    // freshly written part files get footer reads. This is the
    // incremental loop: after the first commit, no footer of an
    // unchanged file is ever read again.
    val untouchedRels = untouched.map(f => relPath(tablePath, f)).toSet
    // filter by the TOUCHED set (small by design) rather than the
    // untouched list, which is table-sized; manifest rows are already
    // relative paths, so linked files carry over verbatim. The output
    // manifest carries bounds for EVERY key column (pruning uses the
    // leading one, but a later commit may lead with another component)
    // and every stats column — all resolved above.
    val carriedAll =
      (cached.flatten :+ boundsFrame(spark, folded)).reduce(_ unionByName _)
    val carried =
      if (touched.isEmpty) carriedAll
      else carriedAll.filter(!col("file").isin(touched.toSeq: _*))
    val freshFiles = Layout.listDataFiles(spark, outPath)
      .filterNot(f => untouchedRels.contains(relPath(outPath, f)))
    // fresh-file bounds land on the DRIVER (the fold's rows): they feed
    // the manifest write as a local relation AND the TxnInfo lead
    // bounds without a second footer pass
    val freshRows = footerBounds(spark, freshFiles, srcKeys, outPath)
    carried.unionByName(boundsFrame(spark, freshRows))
      .coalesce(1).write.mode("overwrite").parquet(manifestDir(outPath))
    writeManifestKeys(spark, outPath, keyCols ++ extraKeys.map(_._1),
      atomic = false) // pre-publish dir

    // Transaction sidecar for conflict-aware OCC (see [[TxnInfo]]):
    // the touched/fresh file sets fall out of the classification
    // above; the fresh files' lead bounds ride the driver-held rows
    // (no extra footer pass, no extra job), and the evict-key range
    // rides the verbs' own aggregations (hint) or one agg here.
    val freshLead = freshRows.collect {
      case (f, k, mn, mx) if k == leadCol => (f, mn, mx)
    }
    // the verbs pre-compute the range inside an aggregation they run
    // anyway; the engine's own job remains only for DV-widened sets
    // (the TxnInfo range must cover the folded DV keys) and legacy
    // callers that pass no hint
    val evictRange =
      if (nKeysHint == 0L) None
      else evictRangeHint match {
        case Some(hinted) if dvKeys.isEmpty => hinted
        case _ =>
          val r = upKeys.agg(
            min(col("__k0")).cast("string"), max(col("__k0")).cast("string"))
            .head()
          if (r.isNullAt(0)) None else Some((r.getString(0), r.getString(1)))
      }
    writeTxnInfo(outPath, TxnInfo(
      keys = keyCols,
      kind = if (leadType == StringType) "string" else "long",
      mn = evictRange.map(_._1), mx = evictRange.map(_._2),
      touched = touched,
      fresh = freshFiles.map(f => relPath(outPath, f)),
      freshBounds = freshLead))

    // Schema sidecar: output logical schema = input's plus any new
    // columns the append carried (allowSchemaEvolution unions them;
    // without evolution the append matches by the drift refusal).
    // Metadata write; every later read skips the sweep.
    val outSchema = alignedAppend match {
      case Some(a) => unionSchema(baseLogical, a.schema)
      case None => baseLogical
    }
    writeSchemaSidecar(outPath, outSchema)
    (untouched.size, touched.size)
  }

  /** @param allowSchemaEvolution when true, an update batch may carry
    *   NEW columns (they land on the rewritten/appended rows; rows in
    *   byte-copied files surface them as null — read the snapshot via
    *   [[readSnapshot]], which merges schemas across files). Off by
    *   default: silent schema drift in a delivery is usually a bug.
    * @return (filesCopied, filesRewritten, updateRows) */
  def upsertByKey(
      spark: SparkSession, tablePath: String, outPath: String,
      updates: DataFrame, keyCol: String,
      allowSchemaEvolution: Boolean = false): (Int, Int, Long) =
    upsertByKeys(spark, tablePath, outPath, updates, Seq(keyCol),
      allowSchemaEvolution)

  /** [[upsertByKey]] on a COMPOSITE key: a row is replaced when its
    * FULL `keyCols` tuple matches an update row's (the natural-grain
    * MERGE — e.g. `(tree_ID, YEAR)` on the annualized table); file
    * pruning uses the leading component's manifest bounds, so cluster
    * the table by `keyCols.head` ([[Layout.writeRangeLayout]]) to keep
    * commit cost ∝ touched files.
    *
    * @return (filesCopied, filesRewritten, updateRows) */
  def upsertByKeys(
      spark: SparkSession, tablePath: String, outPath: String,
      updates: DataFrame, keyCols: Seq[String],
      allowSchemaEvolution: Boolean = false): (Int, Int, Long) = {
    // Cache the delivery (delivery-sized by the verb's contract): its
    // subtree otherwise re-executes for the count, the touched-file
    // collect, and the rewrite union — three runs of whatever produced
    // the batch (guide §1.2). persist + the count below as the
    // materializing action, NOT an eager localCheckpoint: a separate
    // materialization job costs more than it saves at small batch
    // sizes, while a lazy cache rides an action the verb pays anyway.
    val up = updates.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the count is the materializing action; the evict range and the
      // NULL-key count ride it (min/max of the leading key,
      // string-rendered — the commit engine's own range job becomes
      // redundant; supported key types are integral or string, whose
      // text rendering is width-independent, so the batch-typed min/max
      // equals the engine's table-typed one)
      val cnt = up.agg(count(lit(1)),
        min(col(keyCols.head)).cast("string"),
        max(col(keyCols.head)).cast("string"),
        nullKeyCount(keyCols)).head()
      requireNoNullKeys("upsertByKeys", keyCols, cnt.getLong(3))
      val nUp = cnt.getLong(0)
      val range = if (cnt.isNullAt(1)) None
                  else Some((cnt.getString(1), cnt.getString(2)))
      val (c, r) = commit(spark, tablePath, outPath,
        evictKeys = up.select(keyCols.map(col): _*),
        append = Some(up),
        keyCols = keyCols, allowSchemaEvolution = allowSchemaEvolution,
        nKeysHint = nUp, evictRangeHint = Some(range))
      writeCommitInfo(outPath, "MERGE", Seq(
        "files_copied" -> c.toLong, "files_rewritten" -> r.toLong,
        "rows_merged" -> nUp))
      (c, r, nUp)
    } finally up.unpersist(false)
  }

  /** Copy-on-write DELETE — the other MERGE verb, same engine: only
    * files whose key range intersects the delete set decode and
    * rewrite (minus the deleted keys); everything else
    * hard-links/copies, and the manifest sidecar carries over.
    *
    * @return (filesCopied, filesRewritten, keysRequested) */
  def deleteByKey(
      spark: SparkSession, tablePath: String, outPath: String,
      keys: DataFrame, keyCol: String): (Int, Int, Long) =
    deleteByKeys(spark, tablePath, outPath, keys, Seq(keyCol))

  /** [[deleteByKey]] on a COMPOSITE key: rows whose full `keyCols`
    * tuple appears in `keys` vanish; pruning by the leading component.
    *
    * @return (filesCopied, filesRewritten, keysRequested) */
  def deleteByKeys(
      spark: SparkSession, tablePath: String, outPath: String,
      keys: DataFrame, keyCols: Seq[String]): (Int, Int, Long) = {
    // cache the key set — count, touched-file collect and the eviction
    // anti-join otherwise each re-run its subtree (lazy persist; the
    // count is the materializing action)
    val ks = keys.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // count = materializing action, evict range and NULL-key count
      // riding it (see upsertByKeys)
      val cnt = ks.agg(count(lit(1)),
        min(col(keyCols.head)).cast("string"),
        max(col(keyCols.head)).cast("string"),
        nullKeyCount(keyCols)).head()
      requireNoNullKeys("deleteByKeys", keyCols, cnt.getLong(3))
      val n = cnt.getLong(0)
      val range = if (cnt.isNullAt(1)) None
                  else Some((cnt.getString(1), cnt.getString(2)))
      val (c, r) = commit(spark, tablePath, outPath,
        evictKeys = ks.select(keyCols.map(col): _*), append = None,
        keyCols = keyCols, allowSchemaEvolution = false, nKeysHint = n,
        evictRangeHint = Some(range))
      writeCommitInfo(outPath, "DELETE", Seq(
        "files_copied" -> c.toLong, "files_rewritten" -> r.toLong,
        "keys_requested" -> n))
      (c, r, n)
    } finally ks.unpersist(false)
  }

  /** Apply a full CDC batch — upserts AND deletes — as ONE commit:
    * every key in the batch is evicted from the touched files, and
    * only the non-delete rows append back. `opCol` marks deletes with
    * `"d"` (Debezium's op code); anything else upserts. The column is
    * dropped from the stored rows.
    *
    * @return (filesCopied, filesRewritten, upsertRows, deleteRows) */
  def applyCdcBatch(
      spark: SparkSession, tablePath: String, outPath: String,
      batch: DataFrame, keyCol: String, opCol: String,
      allowSchemaEvolution: Boolean = false): (Int, Int, Long, Long) =
    applyCdcBatchKeys(spark, tablePath, outPath, batch, Seq(keyCol), opCol,
      allowSchemaEvolution)

  /** [[applyCdcBatch]] on a COMPOSITE key — tuple-granular eviction,
    * leading-component pruning, same one-commit CDC semantics.
    *
    * @return (filesCopied, filesRewritten, upsertRows, deleteRows) */
  def applyCdcBatchKeys(
      spark: SparkSession, tablePath: String, outPath: String,
      batch: DataFrame, keyCols: Seq[String], opCol: String,
      allowSchemaEvolution: Boolean = false): (Int, Int, Long, Long) = {
    // cache the batch (it otherwise re-executes for each count, the
    // touched-file collect and the rewrite union; the agg below is the
    // materializing action), and take both op counts from ONE pass.
    // `op =!= "d"` is 3-valued: a NULL op matches neither count,
    // exactly like the old filters.
    val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cnt = b.agg(
        count(when(col(opCol) =!= "d", 1)),
        count(when(col(opCol) === "d", 1)),
        // evict range and NULL-key count over the WHOLE batch (deletes
        // evict too), riding the same materializing agg — see
        // upsertByKeys
        min(col(keyCols.head)).cast("string"),
        max(col(keyCols.head)).cast("string"),
        nullKeyCount(keyCols)).head()
      requireNoNullKeys("applyCdcBatchKeys", keyCols, cnt.getLong(4))
      val (nUp, nDel) = (cnt.getLong(0), cnt.getLong(1))
      val range = if (cnt.isNullAt(2)) None
                  else Some((cnt.getString(2), cnt.getString(3)))
      val upserts = b.filter(col(opCol) =!= "d").drop(opCol)
      val (c, r) = commit(spark, tablePath, outPath,
        evictKeys = b.select(keyCols.map(col): _*), append = Some(upserts),
        keyCols = keyCols, allowSchemaEvolution = allowSchemaEvolution,
        nKeysHint = nUp + nDel, evictRangeHint = Some(range))
      writeCommitInfo(outPath, "CDC", Seq(
        "files_copied" -> c.toLong, "files_rewritten" -> r.toLong,
        "rows_upserted" -> nUp, "rows_deleted" -> nDel))
      (c, r, nUp, nDel)
    } finally b.unpersist(false)
  }

  /** Copy-on-write `UPDATE ... SET ... WHERE ...` — the predicate
    * verb, same commit engine. Matched rows come from the LIVE view
    * ([[readWithDeletes]] — a soft-deleted row must not resurrect as
    * an "updated" row); their `keyCol` values drive the file-granular
    * eviction, so only key-range-intersecting files decode. Because
    * eviction is key-granular, EVERY live row sharing a key with a
    * matched row is re-inserted: assignments apply only where the
    * predicate holds (NULL = no match, three-valued like SQL), rows
    * riding along come back verbatim — value-correct whether or not
    * `keyCol` is unique. All SET expressions read the PRE-update row
    * (one `select`, SQL UPDATE semantics — `SET a = b, b = a` swaps),
    * and each is cast to its column's existing type: UPDATE mutates
    * values, never schema. Assigning `keyCol` itself is allowed (the
    * eviction uses the OLD keys; fresh files get fresh footer bounds).
    *
    * A predicate matching nothing still commits — a pure link of every
    * data file (plus the engine's standard DV fold if the snapshot
    * carries one), so the verb is a real commit in the audit trail
    * either way.
    *
    * Scale shape: ONE predicate scan of the live table (filters push
    * to parquet when no DV is carried) yields the matched-row count,
    * the matched keys' min/max, and — persisted, sized by the matched
    * set — the key column, from which the distinct evict set derives
    * cache-fed; the rewrite-payload scan is pre-filtered to that key RANGE
    * (row-group pruning skips everything else on a key-clustered
    * table) before the semi join, and the commit decodes touched
    * files only — cost ∝ matched keys, not table size. Rows matching
    * the predicate with a NULL `keyCol` refuse loudly: the key-pruned
    * engine cannot address them (a NULL never equi-joins), and
    * silently leaving them un-updated would be worse.
    *
    * @return (filesCopied, filesRewritten, rowsMatched) */
  def updateWhere(
      spark: SparkSession, tablePath: String, outPath: String,
      keyCol: String, predicate: Column,
      assignments: Seq[(String, Column)]): (Int, Int, Long) =
    updateWhereKeys(spark, tablePath, outPath, Seq(keyCol), predicate,
      assignments)

  /** [[updateWhere]] on a COMPOSITE key: matched rows' full `keyCols`
    * tuples drive the eviction (rows sharing a whole tuple ride along),
    * the payload scan pre-filters to the matched LEADING component's
    * range, and a matched row with a NULL in ANY key component refuses.
    *
    * @return (filesCopied, filesRewritten, rowsMatched) */
  def updateWhereKeys(
      spark: SparkSession, tablePath: String, outPath: String,
      keyCols: Seq[String], predicate: Column,
      assignments: Seq[(String, Column)]): (Int, Int, Long) = {
    require(assignments.nonEmpty, "updateWhere: at least one SET assignment")
    val dups = assignments.groupBy(_._1).collect {
      case (n, as) if as.size > 1 => n
    }
    require(dups.isEmpty,
      s"updateWhere: column(s) assigned twice: ${dups.mkString(", ")}")
    val live = readWithDeletes(spark, tablePath)
    val schema = live.schema
    assignments.foreach { case (c, _) =>
      require(schema.fieldNames.contains(c),
        s"updateWhere: SET names '$c' but the table's columns are " +
          schema.fieldNames.mkString(", "))
    }
    requireSupportedKeys(schema, keyCols)
    val (nMatched, nNullKey, mnK, mxK, rangeStr, mkeys) =
      matchedStats(live, keyCols, predicate)
    try {
      requireNoNullKeys("updateWhere", keyCols, nNullKey)
      if (nMatched == 0) {
        val (c0, r0) = commit(spark, tablePath, outPath,
          evictKeys = live.select(keyCols.map(col): _*).limit(0), append = None,
          keyCols = keyCols, allowSchemaEvolution = false, nKeysHint = 0L,
          knownLogical = Some(schema))
        writeCommitInfo(outPath, "UPDATE", Seq(
          "files_copied" -> c0.toLong, "files_rewritten" -> r0.toLong,
          "rows_updated" -> 0L))
        return (c0, r0, 0L)
      }
      val keys = keySide(spark, mkeys, nMatched)
      // fresh scan for the payload side (joining `live` with a frame
      // derived from itself trips Spark's ambiguous-self-join lineage),
      // pre-filtered to the matched LEADING keys' RANGE: every evicted
      // tuple's head lies within [mnK, mxK] by construction, so the
      // filter is value-neutral and parquet row-group stats skip the
      // rest
      val sets = assignments.toMap
      val payloadSrc = readWithDeletes(spark, tablePath)
        .filter(col(keyCols.head).between(lit(mnK), lit(mxK)))
      val payload = payloadSrc.join(keys, keyCols, "left_semi").select(
        schema.fields.map { f =>
          sets.get(f.name) match {
            case Some(e) =>
              when(predicate, e.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
            case None => col(f.name)
          }
        }.toSeq: _*)
      val (c, r) = commit(spark, tablePath, outPath,
        evictKeys = keys, append = Some(payload), keyCols = keyCols,
        allowSchemaEvolution = false, nKeysHint = nMatched,
        knownLogical = Some(schema),
        evictDistinct = true, evictRangeHint = Some(rangeStr))
      writeCommitInfo(outPath, "UPDATE", Seq(
        "files_copied" -> c.toLong, "files_rewritten" -> r.toLong,
        "rows_updated" -> nMatched))
      (c, r, nMatched)
    } finally { mkeys.unpersist(); () }
  }

  /** ONE predicate scan for the predicate verbs: the matched rows'
    * key column lands in a persisted frame (the scan runs ONCE, into
    * the cache, sized by the MATCHED set — spills to disk if huge),
    * and the returned stats — matched-row count, matched rows with a
    * NULL key (must refuse — see [[updateWhere]]), the matched keys'
    * min/max (native type, for row-group-prunable range filters) —
    * are the caching action. The caller derives the distinct evict
    * set from the frame (cache-fed, no rescan) and MUST unpersist it.
    *
    * A NON-DETERMINISTIC predicate refuses here: the verbs evaluate
    * it in more than one query execution (stats/keys, then the
    * payload scan and per touched row) — `rand()`-style conditions
    * would tear the commit (different rows matched in each pass),
    * silently. So does a TIME-DEPENDENT one: `now()`/
    * `current_date()` report deterministic but are stamped per
    * QueryExecution, so a row crossing the threshold between the
    * executions flips sides just as silently. Checked on the
    * ANALYZED filter so both the Column form and SQL text
    * (`expr("rand() < .5")`, unresolved until analysis) are caught,
    * and before the optimizer folds the current-time literals in. */
  private def matchedStats(
      live: DataFrame, keyCols: Seq[String], predicate: Column)
      : (Long, Long, Any, Any, Option[(String, String)], DataFrame) = {
    import org.apache.spark.sql.catalyst.expressions.{
      CurrentDate, CurrentTimestampLike, LocalTimestamp}
    val filtered = live.filter(predicate)
    val bad = filtered.queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if !f.condition.deterministic => (f.condition, "non-deterministic")
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.exists {
            case _: CurrentTimestampLike | _: CurrentDate |
                _: LocalTimestamp => true
            case _ => false
          } => (f.condition, "time-dependent")
    }
    require(bad.isEmpty,
      s"predicate is ${bad.map(_._2).getOrElse("")} " +
        "(" + bad.map(_._1.sql).getOrElse("") + ") — it is evaluated " +
        "in more than one query execution and would match different " +
        "rows in each; materialize the choice first (evaluate the " +
        "cutoff to a literal, or stage the matched keys and use the " +
        "key-set verb)")
    val mkeys = filtered.select(keyCols.map(col): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // min/max of the LEADING component (the range the payload scan
    // pre-filters on); a NULL in ANY component disqualifies the row
    val lead = col(keyCols.head)
    // the string-rendered range rides the same job: it is EXACTLY the
    // TxnInfo evict range the commit engine used to re-aggregate (the
    // live view's key type IS the table's logical type, and the SQL
    // cast-to-string here matches the engine's rendering bit for bit)
    val r = mkeys.agg(
      count(lit(1)), nullKeyCount(keyCols), min(lead), max(lead),
      min(lead).cast("string"), max(lead).cast("string")).head()
    val rangeStr =
      if (r.isNullAt(4)) None else Some((r.getString(4), r.getString(5)))
    (r.getLong(0), r.getLong(1), r.get(2), r.get(3), rangeStr, mkeys)
  }

  /** Past this many key tuples the verbs stop lifting the key set
    * into a driver-local relation and keep the distributed distinct +
    * broadcast/shuffle joins. The localized path wins by removing
    * per-execution distinct re-runs and broadcast-build jobs, but a
    * LocalRelation's rows are copied into every plan that references
    * them and single-thread through driver dedup — measured at the
    * organic 100× tier, localizing multi-million-key sets made the
    * lakehouse verbs 2.5× SLOWER while sub-100k sets only got faster.
    * 100k tuples ≈ a few MB embedded — trivial at any scale; beyond
    * that the distributed plan is the right one. (Deliberately far
    * below [[CommitBroadcastMaxKeys]], which bounds broadcast safety,
    * not plan-embedding sanity.) */
  private[graft] val DriverLocalizeMaxKeys: Long = 100000L

  /** The ONE key-localization decision: the key side of a verb's
    * joins, from the exact row count `nKeys` of `keys` (the batch count
    * plus a folded DV's footer row count). The keys feed several
    * separate executions (the touched-file probe, the rewrite's
    * semi/anti joins, DELETE's survivor count), and each would re-run
    * the distinct aggregation and then collect it anyway to build its
    * broadcast relation. At or below [[DriverLocalizeMaxKeys]] the keys
    * are collected ONCE, deduplicated on the driver (key types are
    * integral or string only — structural equality IS SQL DISTINCT for
    * them) and returned as a broadcast driver-local relation, whose
    * broadcast builds with no job. Past it the frame stays distributed
    * (distinct unless `isDistinct` says the caller guarantees it). */
  private def keySide(
      spark: SparkSession, keys: DataFrame, nKeys: Long,
      isDistinct: Boolean = false): DataFrame =
    if (nKeys > DriverLocalizeMaxKeys) {
      if (isDistinct) keys else keys.distinct()
    } else {
      val rows = keys.collect().distinct
      broadcast(spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), keys.schema))
    }

  /** Refuse a verb whose rows (batch rows, or rows its predicate
    * matches) carry a NULL key component: NULL never equi-joins, so the
    * engine could neither evict nor address them. */
  private def requireNoNullKeys(
      verb: String, keyCols: Seq[String], nNullKey: Long): Unit =
    require(nNullKey == 0,
      s"$verb: $nNullKey row(s) with a NULL in " +
        s"'${keyCols.mkString(", ")}' — the key-pruned COW engine " +
        "cannot address them (NULL never equi-joins); fill the key or " +
        "rewrite the table")

  /** Rows with a NULL in any of `keyCols`, as an aggregate. */
  private def nullKeyCount(keyCols: Seq[String]): Column =
    count(when(keyCols.map(col(_).isNull).reduce(_ || _), 1))

  /** Copy-on-write `DELETE ... WHERE <predicate>` — the general form
    * of [[deleteByKey]] (which takes an explicit key set). Matched
    * rows come from the LIVE view; their keys drive the eviction, and
    * rows that SHARE a key with a matched row without matching the
    * predicate themselves (possible when `keyCol` is not unique)
    * survive by re-insert — a NULL predicate is not a match, so such
    * rows survive too. A predicate matching nothing commits a pure
    * link (plus the standard DV fold), and a predicate matching a
    * NULL-keyed row refuses loudly, like [[updateWhere]] (same
    * single-scan stats + range-pruned payload shape).
    *
    * @return (filesCopied, filesRewritten, rowsDeleted) */
  def deleteWhere(
      spark: SparkSession, tablePath: String, outPath: String,
      keyCol: String, predicate: Column): (Int, Int, Long) =
    deleteWhereKeys(spark, tablePath, outPath, Seq(keyCol), predicate)

  /** [[deleteWhere]] on a COMPOSITE key — tuple-granular eviction,
    * leading-component range pruning, same three-valued predicate and
    * NULL-key refusal semantics.
    *
    * @return (filesCopied, filesRewritten, rowsDeleted) */
  def deleteWhereKeys(
      spark: SparkSession, tablePath: String, outPath: String,
      keyCols: Seq[String], predicate: Column): (Int, Int, Long) = {
    val live = readWithDeletes(spark, tablePath)
    requireSupportedKeys(live.schema, keyCols)
    val (nMatched, nNullKey, mnK, mxK, rangeStr, mkeys) =
      matchedStats(live, keyCols, predicate)
    try {
      requireNoNullKeys("deleteWhere", keyCols, nNullKey)
      if (nMatched == 0) {
        val (c0, r0) = commit(spark, tablePath, outPath,
          evictKeys = live.select(keyCols.map(col): _*).limit(0), append = None,
          keyCols = keyCols, allowSchemaEvolution = false, nKeysHint = 0L,
          knownLogical = Some(live.schema))
        writeCommitInfo(outPath, "DELETE", Seq(
          "files_copied" -> c0.toLong, "files_rewritten" -> r0.toLong,
          "rows_deleted" -> 0L))
        return (c0, r0, 0L)
      }
      val keys = keySide(spark, mkeys, nMatched)
      // fresh scan pre-filtered to the matched key range; see updateWhere
      val payloadSrc = readWithDeletes(spark, tablePath)
        .filter(col(keyCols.head).between(lit(mnK), lit(mxK)))
      val survivors = payloadSrc.join(keys, keyCols, "left_semi")
        .filter(!coalesce(predicate, lit(false)))
      val nSurv = survivors.count()
      val (c, r) = commit(spark, tablePath, outPath,
        evictKeys = keys,
        append = if (nSurv == 0) None else Some(survivors),
        keyCols = keyCols, allowSchemaEvolution = false, nKeysHint = nMatched,
        knownLogical = Some(live.schema),
        evictDistinct = true, evictRangeHint = Some(rangeStr))
      writeCommitInfo(outPath, "DELETE", Seq(
        "files_copied" -> c.toLong, "files_rewritten" -> r.toLong,
        "rows_deleted" -> nMatched, "rows_reinserted" -> nSurv))
      (c, r, nMatched)
    } finally { mkeys.unpersist(); () }
  }

  // -------------------------------------------------------------------
  // Snapshot utilities for versioned COW tables (the directory layout
  // graft.streaming.Streams.upsertSink maintains: v<id> snapshot dirs
  // plus a CURRENT pointer file).
  // -------------------------------------------------------------------

  /** Write the `_commitinfo` audit sidecar into a freshly committed
    * snapshot — the analog of Delta's commitInfo action: one JSON
    * object carrying the operation name, the commit wall-clock (epoch
    * millis), and the verb's stats. Every commit verb stamps its
    * output (a later stamp by a composing verb overwrites —
    * [[compactDeletes]] re-stamps the [[deleteByKey]] it delegates
    * to); `DESCRIBE HISTORY` and TIMESTAMP-AS-OF time travel read it
    * back. Written tmp + atomic-move so a reader never sees a torn
    * file; a metadata write, no job. */
  def writeCommitInfo(
      snapshotDir: String, operation: String,
      stats: Seq[(String, Long)] = Nil): Unit = {
    val doc = JObject(("operation" -> JString(operation)) ::
      ("ts" -> JLong(System.currentTimeMillis())) ::
      stats.map { case (k, v) => k -> JLong(v) }.toList)
    import org.apache.hadoop.fs.{Path => HPath}
    // pre-publish snapshot dir: publish is the visibility point
    Fs.createText(Fs.of(snapshotDir),
      new HPath(snapshotDir, "_commitinfo"), Fs.json(doc))
  }

  /** Read back a snapshot's `_commitinfo`: (operation, epoch millis,
    * stats). None when the snapshot predates the audit trail; a
    * present-but-unparseable sidecar fails loudly (it can only mean
    * corruption or a foreign writer — never silently drop audit). */
  def readCommitInfo(snapshotDir: String)
      : Option[(String, Long, Seq[(String, Long)])] = {
    import org.apache.hadoop.fs.{Path => HPath}
    Fs.readJson(Fs.of(snapshotDir), new HPath(snapshotDir, "_commitinfo"))
      .map {
        case JObject(("operation", JString(op)) :: ("ts", JInt(ts)) :: stats)
            if stats.forall(_._2.isInstanceOf[JInt]) =>
          (op, ts.toLong, stats.map(f => f._1 -> f._2.extract[Long]))
        case doc => throw new IllegalStateException(
          s"unparseable _commitinfo under $snapshotDir: ${Fs.json(doc).take(200)}")
      }
  }

  // -------------------------------------------------------------------
  // Transaction sidecar (`_txn.json`) + commit log (`_commitlog/`):
  // the conflict-detection substrate of the OCC protocol
  // (plans.LakehouseSql). Every engine commit stamps its snapshot with
  // the file set it REWROTE (`touched`), the files it WROTE (`fresh`,
  // with the leading key's per-file bounds), and its evict-key range —
  // enough for a losing committer to prove its change DISJOINT from
  // the winners' and republish by relinking, without re-running the
  // Spark job (Delta's logical conflict detection, derived from this
  // engine's manifest machinery). The commit log is one
  // create-exclusive JSON per PUBLISHED version: it makes the
  // published chain walkable (each entry names its base), and its max
  // entry doubles as the CURRENT resolution when the pointer file is
  // mid-swap or lost — closing the rename absence window Fs.scala
  // documents (readers take max(pointer, log); the log is written
  // first, and a log entry always names a fully built snapshot).
  // -------------------------------------------------------------------

  /** What a commit changed, recorded for conflict detection.
    *
    * @param keys   the commit's key columns (head = pruning lead)
    * @param kind   lead-key comparison domain: "long" | "string"
    * @param mn     evict-key range over the lead component (text, in
    * @param mx       `kind`'s domain); None for a pure-link commit
    * @param touched snapshot-relative paths the commit REWROTE (these
    *                files' rel paths vanish from its output)
    * @param fresh   snapshot-relative paths the commit WROTE
    * @param freshBounds (file, mn, mx) lead-key bounds of fresh files
    *                    that carry a non-null lead value; NULL bounds
    *                    are unknown (stats missing or uncastable) */
  private[graft] case class TxnInfo(
      keys: Seq[String], kind: String,
      mn: Option[String], mx: Option[String],
      touched: Set[String], fresh: Seq[String],
      freshBounds: Seq[(String, String, String)])

  private def txnPath(snapshot: String) = s"$snapshot/_txn.json"

  private[graft] def writeTxnInfo(snapshotDir: String, t: TxnInfo): Unit = {
    val doc = ("keys" -> t.keys) ~ ("kind" -> t.kind) ~
      ("mn" -> t.mn) ~ ("mx" -> t.mx) ~
      ("touched" -> t.touched.toSeq.sorted) ~ ("fresh" -> t.fresh.sorted) ~
      ("fbFile" -> t.freshBounds.map(_._1)) ~
      ("fbMn" -> t.freshBounds.map(_._2)) ~
      ("fbMx" -> t.freshBounds.map(_._3))
    import org.apache.hadoop.fs.{Path => HPath}
    // pre-publish snapshot dir: publish is the visibility point
    Fs.createText(Fs.of(snapshotDir),
      new HPath(txnPath(snapshotDir)), Fs.json(doc))
  }

  /** None when the snapshot was not written by the commit engine
    * (OPTIMIZE/RESTORE/CONVERT/stream-init outputs carry no `_txn`) —
    * the conflict resolver treats such commits as whole-table writes
    * and refuses to rebase across them. */
  private[graft] def readTxnInfo(snapshotDir: String): Option[TxnInfo] = {
    import org.apache.hadoop.fs.{Path => HPath}
    Fs.readJson(Fs.of(snapshotDir), new HPath(txnPath(snapshotDir)))
      .map { doc =>
        def strs(name: String) = (doc \ name).extractOpt[Seq[String]].getOrElse(Nil)
        val (files, mns, mxs) = (strs("fbFile"), strs("fbMn"), strs("fbMx"))
        require(files.length == mns.length && files.length == mxs.length,
          s"corrupt _txn.json under $snapshotDir (ragged fresh-bounds arrays)")
        TxnInfo(
          keys = strs("keys"),
          kind = (doc \ "kind").extractOpt[String].getOrElse("long"),
          mn = (doc \ "mn").extractOpt[String], mx = (doc \ "mx").extractOpt[String],
          touched = strs("touched").toSet,
          fresh = strs("fresh"),
          freshBounds = files.lazyZip(mns).lazyZip(mxs).toSeq)
      }
  }

  private def commitLogDir(tableDir: String) = s"$tableDir/_commitlog"

  /** Record version `version` as PUBLISHED, naming its base — one
    * create-exclusive JSON per version, written by the OCC publish
    * path BEFORE the CURRENT pointer swap (the log is the durable
    * truth; the pointer is the cache that closes to it). Create-
    * exclusive: publishing the same version twice is a protocol bug
    * and fails loudly — including a version at or below the
    * truncation checkpoint, whose entry create-exclusive alone could
    * no longer catch (the entry was reclaimed). */
  private[graft] def writeCommitLogEntry(
      tableDir: String, version: Long, base: Long, verb: String): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    commitLogCheckpoint(tableDir).foreach(cp => require(version > cp,
      s"commit log of $tableDir is truncated through v$cp — v$version " +
        "was already published (and since reclaimed); publishing it " +
        "again is a protocol bug"))
    val p = new HPath(s"${commitLogDir(tableDir)}/$version.json")
    val txt = Fs.json(Extraction.decompose(
      CommitLogEntry(version, base, verb, System.currentTimeMillis())))
    require(Fs.createExclusive(Fs.of(tableDir), p, txt),
      s"commit log already holds an entry for v$version under $tableDir — " +
        "the version was already published")
  }

  /** Truncation checkpoint: every log entry at or below this version
    * has been reclaimed by [[truncateCommitLog]]. Absent on tables
    * that were never truncated. */
  private[graft] def commitLogCheckpoint(tableDir: String): Option[Long] = {
    import org.apache.hadoop.fs.{Path => HPath}
    Fs.readJson(Fs.of(tableDir), new HPath(s"${commitLogDir(tableDir)}/_base.json"))
      .map(doc => (doc \ "version").extract[Long])
  }

  /** Reclaim commit-log entries for versions below `belowVersion` —
    * the metadata half of retention. Without it the log grows one
    * file per commit forever, and [[commitLogMax]]'s listing (paid by
    * every [[currentVersion]] resolution) grows with TABLE AGE instead
    * of retention: a streaming sink committing every 30 s is ~3k
    * entries/day, and at 100 TB scale the per-read listing RPC is the
    * first metadata bottleneck. Rides [[vacuum]]/[[vacuumOlderThan]]
    * with `belowVersion` = the oldest retained snapshot, so an entry
    * is only ever reclaimed once the snapshot it published is itself
    * unreachable (time travel can't resolve it, and a conflict-rebase
    * walk can only need entries newer than some live commit's base).
    *
    * Order matters: the `_base.json` checkpoint is advanced FIRST
    * (atomic write), then entries are deleted — a crash in between
    * leaves extra entries behind, which is harmless (the next
    * truncation reclaims them), whereas the reverse order could
    * re-admit a reclaimed version through [[writeCommitLogEntry]]'s
    * create-exclusive check.
    *
    * @return versions whose entries were reclaimed */
  private[graft] def truncateCommitLog(
      tableDir: String, belowVersion: Long): Seq[Long] = {
    import org.apache.hadoop.fs.{Path => HPath}
    val fs = Fs.of(tableDir)
    val entries = Fs.listFiles(fs, new HPath(commitLogDir(tableDir)))
      .map(_.getName).filter(_.matches("\\d+\\.json"))
      .map(_.stripSuffix(".json").toLong)
      .filter(_ < belowVersion).sorted
    if (entries.nonEmpty) {
      val cp = math.max(entries.max, commitLogCheckpoint(tableDir).getOrElse(Long.MinValue))
      Fs.writeTextAtomic(fs, new HPath(s"${commitLogDir(tableDir)}/_base.json"),
        Fs.json(("version" -> cp) ~ ("ts" -> System.currentTimeMillis())))
      entries.foreach(v =>
        fs.delete(new HPath(s"${commitLogDir(tableDir)}/$v.json"), false))
    }
    entries
  }

  /** Every version the commit log holds an entry for — ONE directory
    * listing, for callers adjudicating a whole version RANGE at once
    * (the ANN staleness walks): per-version existence probes against
    * the log cost one round-trip each, this costs one total. */
  private[graft] def commitLogVersions(tableDir: String): Set[Long] = {
    import org.apache.hadoop.fs.{Path => HPath}
    Fs.listFiles(Fs.of(tableDir), new HPath(commitLogDir(tableDir)))
      .map(_.getName).filter(_.matches("\\d+\\.json"))
      .map(_.stripSuffix(".json").toLong).toSet
  }

  /** One published version's commit-log entry: its base (the
    * published chain's back pointer), the verb (DESCRIBE HISTORY's
    * fallback when a snapshot carries no `_commitinfo`) and the
    * PUBLISH timestamp — a durable, copy-stable signal
    * ([[versionAsOfTimestamp]] prefers it over directory mtime, which
    * resets on any cp/rsync/restore of the table). */
  private[graft] final case class CommitLogEntry(
      version: Long, base: Long, verb: String, ts: Long)

  /** The commit-log entry of `version`, if logged. */
  private[graft] def readCommitLogEntry(
      tableDir: String, version: Long): Option[CommitLogEntry] = {
    import org.apache.hadoop.fs.{Path => HPath}
    Fs.readJson(Fs.of(tableDir), new HPath(s"${commitLogDir(tableDir)}/$version.json"))
      .map(_.extract[CommitLogEntry])
  }

  /** Highest version the commit log records as published. Entries for
    * retained snapshots always survive truncation (only versions below
    * the oldest kept snapshot are reclaimed), so the listing is bounded
    * by the retention window, not table age; the `_base.json`
    * checkpoint is folded in as a backstop against hand-deleted
    * entries. */
  private[graft] def commitLogMax(tableDir: String): Option[Long] = {
    import org.apache.hadoop.fs.{Path => HPath}
    val entries = Fs.listFiles(Fs.of(tableDir), new HPath(commitLogDir(tableDir)))
      .map(_.getName).filter(_.matches("\\d+\\.json"))
      .map(_.stripSuffix(".json").toLong)
    // the `_base.json` checkpoint backstop only matters when the
    // listing is EMPTY. Why a nonempty listing never needs the floor:
    // truncation only ever deletes entries BELOW the oldest retained
    // snapshot — the newest entry (the true max) is never eligible —
    // so the max of any protocol-produced listing is the max of the
    // log, crash leftovers included (a crash between the checkpoint
    // advance and the deletes leaves EXTRA entries ≤ cp behind; it
    // deletes nothing, so the max entry still dominates them, and the
    // next truncation reclaims the leftovers). The one state the skip
    // misreads — leftovers ≤ cp surviving while every entry > cp was
    // removed — requires deleting log entries BY HAND, which is
    // outside the protocol (the same class as hand-deleting a
    // snapshot dir under CURRENT). Accepting that documented edge
    // saves one FS round-trip on EVERY read's and publish's CURRENT
    // resolution (the round-13 op-count halving, docs/PLANS.md).
    if (entries.nonEmpty) Some(entries.max)
    else commitLogCheckpoint(tableDir)
  }

  /** Relink a LOSING commit's change on top of the table's CURRENT
    * snapshot — the metadata half of conflict-aware OCC retry, called
    * by the publish path AFTER conflict detection proved the change
    * disjoint from every intervening winner. The rebased snapshot is
    * `currentDir`'s file set minus the loser's `touched` rel paths,
    * plus the loser's `fresh` files — all hard links (O(1) metadata
    * per file; the loser's Spark job is NOT re-run). The manifest
    * merges the same way (current's rows for its surviving files +
    * the loser's rows for its fresh files, restricted to the stamp
    * intersection); schema/audit/txn sidecars carry from the loser
    * (the conflict check already proved the schemas equal). */
  private[graft] def rebaseRelink(
      spark: SparkSession, currentDir: String, loserDir: String,
      outDir: String, touchedL: Set[String], freshL: Set[String]): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    val ofs = Fs.of(outDir, spark)
    clearLeftovers(ofs, new HPath(outDir))
    val curAll = Layout.listDataFiles(spark, currentDir)
    val curRels = curAll.map(f => relPath(currentDir, f)).toSet
    val missing = touchedL -- curRels
    require(missing.isEmpty,
      s"rebaseRelink: files this commit rewrote are gone from the " +
        s"current snapshot (${missing.take(3).mkString(", ")}…) — " +
        "conflict detection should have refused this rebase")
    linkOrCopyAll(spark,
      curAll.filterNot(f => touchedL.contains(relPath(currentDir, f))),
      currentDir, outDir)
    linkOrCopyAll(spark,
      Layout.listDataFiles(spark, loserDir)
        .filter(f => freshL.contains(relPath(loserDir, f))),
      loserDir, outDir)
    // manifest: both sides stamped → merge on the stamp intersection;
    // anything else → no sidecar (the next commit pays one footer
    // sweep — correct, never wrong)
    val curKeys = readManifestKeys(spark, currentDir)
    val loserKeys = readManifestKeys(spark, loserDir)
    val curFs = Fs.of(currentDir, spark)
    val haveBoth =
      curFs.exists(new HPath(s"${manifestDir(currentDir)}/_SUCCESS")) &&
        curFs.exists(new HPath(s"${manifestDir(loserDir)}/_SUCCESS"))
    (curKeys, loserKeys) match {
      case (Some(ck), Some(lk)) if haveBoth && (ck & lk).nonEmpty =>
        val shared = (ck & lk).toSeq.sorted
        val shape = org.apache.spark.sql.types.StructType.fromDDL(
          "file string, key string, mn string, mx string")
        val cm = spark.read.schema(shape).parquet(manifestDir(currentDir))
          .filter(col("key").isin(shared: _*))
          .filter(if (touchedL.isEmpty) lit(true)
                  else !col("file").isin(touchedL.toSeq: _*))
        val lm = spark.read.schema(shape).parquet(manifestDir(loserDir))
          .filter(col("key").isin(shared: _*))
          .filter(if (freshL.isEmpty) lit(false)
                  else col("file").isin(freshL.toSeq: _*))
        cm.unionByName(lm).coalesce(1)
          .write.mode("overwrite").parquet(manifestDir(outDir))
        writeManifestKeys(spark, outDir, shared, atomic = false) // pre-publish
      case _ => ()
    }
    readSchemaSidecar(loserDir).foreach(writeSchemaSidecar(outDir, _))
    readCommitInfo(loserDir).foreach { case (op, _, stats) =>
      writeCommitInfo(outDir, op, stats)
    }
    readTxnInfo(loserDir).foreach(writeTxnInfo(outDir, _))
  }

  /** (operation, commit timestamp) of `v<version>`: the `_commitinfo`
    * stamp when present, else the commit-log entry's verb and publish
    * timestamp (durable across copies/restores, unlike mtime), else no
    * operation and the version directory's modification time (the
    * best available signal for pre-audit-trail snapshots — same
    * fallback Delta applies when commitInfo timestamps are absent).
    * Opens each record at most once. */
  private[graft] def commitStamp(tableDir: String, version: Long): (Option[String], Long) = {
    val info = readCommitInfo(s"$tableDir/v$version")
    lazy val logged = readCommitLogEntry(tableDir, version)
    (info.map(_._1).orElse(logged.map(_.verb)),
      info.map(_._2).orElse(logged.map(_.ts))
        .getOrElse(dirMtime(s"$tableDir/v$version")))
  }

  /** Commit timestamp of `v<version>` (see [[commitStamp]]). */
  def commitTimestamp(tableDir: String, version: Long): Long =
    commitStamp(tableDir, version)._2

  /** Completeness of the versions in `stamped` (version -> holds a
    * `_commitinfo`): a version is complete when it is stamped or
    * `logged`, OR it is the CURRENT version (publish follows the build),
    * OR it predates the table's oldest stamp and holds data files (a
    * hand-staged base or pre-audit-trail chain). Anything else is an
    * in-flight or crash-abandoned OCC claim. */
  private def isComplete(tableDir: String, stamped: Map[Long, Boolean],
      logged: Long => Boolean): Long => Boolean = {
    val oldestStamp = stamped.collect { case (v, true) => v }.minOption
    val current = currentVersion(tableDir)
    v => stamped(v) || logged(v) || current.contains(v) ||
      (oldestStamp.forall(v < _) && dataFileExists(s"$tableDir/v$v"))
  }

  /** TIMESTAMP AS OF resolution: the newest COMPLETE version whose
    * commit timestamp is <= `tsMillis`.
    *
    * Completeness: the `_commitinfo` stamp is written AFTER a verb
    * finishes building its snapshot, so it doubles as the completion
    * marker. A version is complete when it is stamped, OR it is the
    * CURRENT version (publish follows the build), OR it predates the
    * table's oldest stamp (a hand-staged base or pre-audit-trail
    * chain — judged by holding data files). Anything else — unstamped,
    * not current, at-or-after the first stamp — is an in-flight or
    * crash-abandoned OCC claim, and is never resolvable: time travel
    * must not hand a reader a partially-linked table, even once its
    * first files land. */
  def versionAsOfTimestamp(tableDir: String, tsMillis: Long): Long = {
    val versions = snapshotVersions(tableDir)
    require(versions.nonEmpty,
      s"versionAsOfTimestamp: no v<id> snapshots under $tableDir")
    val info = versions.map(v => v -> readCommitInfo(s"$tableDir/v$v")).toMap
    // the commit log outranks mtime: a copied/restored table resets
    // every directory's mtime, but the log entries (and their publish
    // timestamps) ride the copy — an unstamped-but-logged version
    // resolves identically before and after the copy, and a LOGGED
    // version is by construction complete (the entry is written after
    // the build, at publish)
    val logTs = versions.map(v => v -> readCommitLogEntry(tableDir, v).map(_.ts)).toMap
    def ts(v: Long): Long = info(v).map(_._2)
      .orElse(logTs(v))
      .getOrElse(dirMtime(s"$tableDir/v$v"))
    val complete = isComplete(tableDir, info.map { case (v, i) => v -> i.isDefined },
      v => logTs(v).isDefined)
    versions.sorted.reverseIterator
      .find(v => ts(v) <= tsMillis && complete(v))
      .getOrElse(throw new IllegalArgumentException(
        s"versionAsOfTimestamp: no complete snapshot under $tableDir " +
          s"committed at or before ${java.time.Instant.ofEpochMilli(tsMillis)} — " +
          versions.map(v => s"v$v@${java.time.Instant.ofEpochMilli(ts(v))}" +
            (if (complete(v)) "" else " (incomplete)")).mkString(", ")))
  }

  /** List snapshot versions of a versioned COW table, ascending. */
  def snapshotVersions(tableDir: String): Seq[Long] = {
    import org.apache.hadoop.fs.{Path => HPath}
    Fs.listDirs(Fs.of(tableDir), new HPath(tableDir))
      .map(_.getName)
      .filter(_.matches("v\\d+"))
      .map(_.drop(1).toLong).sorted
  }

  /** The table's current version: max of the CURRENT pointer and the
    * commit log's newest entry. The two agree except (a) mid-publish
    * or after a crash between the log write and the pointer swap —
    * the log is written first and always names a fully built
    * snapshot, so the log wins — and (b) on rename-refuses-existing
    * filesystems during the pointer's delete+rename window, where the
    * log is what makes the table readable at all (the absence window
    * `ops/Fs.scala` documents, closed here). Tables without a log
    * (hand-staged, streaming-sink-owned) resolve by pointer alone. */
  private[graft] def currentVersion(tableDir: String): Option[Long] = {
    import org.apache.hadoop.fs.{Path => HPath}
    val ptr = Fs.readTextIfExists(Fs.of(tableDir), new HPath(tableDir, "CURRENT"))
      .map(_.trim.drop(1).toLong)
    (ptr.toSeq ++ commitLogMax(tableDir).toSeq).maxOption
  }

  /** Directory mtime via the Hadoop FS (0 when absent — matching
    * java.io.File.lastModified's convention for missing paths). */
  private def dirMtime(dir: String): Long = {
    import org.apache.hadoop.fs.{Path => HPath}
    val fs = Fs.of(dir)
    val p = new HPath(dir)
    if (fs.exists(p)) fs.getFileStatus(p).getModificationTime else 0L
  }

  /** At least one data file under `dir` — the local NIO fast path on
    * `file:`, a Hadoop listing elsewhere. */
  private def dataFileExists(dir: String): Boolean = {
    import org.apache.hadoop.fs.{Path => HPath}
    val p = new HPath(dir)
    val scheme = p.toUri.getScheme
    if (scheme == null || scheme == "file")
      Layout.localDataFileExists(p.toUri.getPath)
    else
      try Layout.listDataFiles(
        org.apache.spark.sql.SparkSession.active, dir).nonEmpty
      catch { case _: java.io.FileNotFoundException => false }
  }

  /** Time travel: read the table AS OF `version` (a past snapshot is a
    * complete table — copy-on-write never mutates shipped files).
    * Schema resolution: the `_schema.json` sidecar when the snapshot
    * carries one (authoritative, no footer sweep), else `mergeSchema`
    * — after a schema-evolving commit a snapshot mixes old-schema
    * (linked) and new-schema (rewritten) files, and a bare read would
    * pick one file's schema arbitrarily. */
  def readSnapshot(spark: SparkSession, tableDir: String, version: Long): DataFrame = {
    import org.apache.hadoop.fs.{Path => HPath}
    val d = s"$tableDir/v$version"
    val fs = Fs.of(d, spark)
    require(fs.exists(new HPath(d)) && fs.getFileStatus(new HPath(d)).isDirectory,
      s"snapshot v$version not found under $tableDir " +
        s"(have: ${snapshotVersions(tableDir).mkString(",")}) — vacuumed or never written")
    readSnapshotData(spark, d)
  }

  /** Change data feed between two snapshots of a versioned COW table —
    * row-level before/after images computed from ONLY the files the
    * commits actually changed. Because commits link unchanged files
    * verbatim (same basename, same bytes), any file present in both
    * snapshots contributes identical rows to both sides and can be
    * skipped outright; the diff reduces to
    * `rows(to-only files) exceptAll rows(from-only files)` (after
    * images / inserts) and the reverse (before images / deletes). An
    * updated key surfaces as one `delete` + one `insert`, an appended
    * key as `insert` only — Delta's CDF contract, derived here from
    * the layout instead of a transaction log. Across a SCHEMA-EVOLVING
    * commit the two sides are aligned automatically (the older side
    * null-fills columns it predates — `unionByName` semantics applied
    * to the diff, same as [[readSnapshot]]'s mergeSchema), so an
    * evolved interval feeds consumers the current schema with nulls
    * for pre-evolution images. Column additions only — a type-changing
    * rewrite is a new table, not an evolution.
    *
    * DELETION VECTORS are part of the diff: the feed reflects the
    * LOGICAL table ([[readWithDeletes]]' view). Each file-diff side
    * is restricted to its LIVE rows (anti-joined with that side's own
    * DV) before the excepts, and keys newly present in the `to`
    * side's `_dv` emit their full rows as `delete` images fetched
    * from files SHARED by both snapshots — so a logical delete
    * surfaces exactly once (at the commit that logically removed it),
    * a pure [[compactDeletes]] interval feeds NOTHING (physically
    * huge, logically a no-op), an insert-then-DV-delete interval nets
    * to nothing, and an explicit resurrection surfaces as an insert.
    *
    * Cost ∝ changed files across the interval, not table size — the
    * property that makes incremental downstream consumers (a streaming
    * reader, a derived aggregate) cheap against a 100 TB table. The
    * DV-delta leg fetches deleted rows' images manifest-pruned (only
    * files whose key bounds can hold a deleted key decode), so it too
    * costs ∝ affected files.
    *
    * ONE COMMIT IS READ BACK: when `toVersion` is the first snapshot
    * after `fromVersion` and [[materializeCdf]] finished
    * `_cdf/v<toVersion>` (its `_SUCCESS` is there), the feed is that
    * dir's rows without `_commit_version` — the same multiset, columns
    * and order (FeedReadBackSpec pins the equivalence), with no Spark job to
    * construct. Any other interval, or a feed dir without `_SUCCESS`,
    * runs the diff. Every leg's schema resolves without a job: the
    * snapshot's `_schema.json`, else (`mergeSchema` aside) the footer
    * Spark wrote ([[Layout.readParquet]]). Measured on a 3,000-vector
    * stamped index after one 40-row MERGE (JobBudgetSpec): building
    * this feed ran 2 Spark jobs before and runs 0; the whole
    * `AnnIndex.applyCdf` pass went from 29 jobs to 18. */
  def changeDataFeed(
      spark: SparkSession, tableDir: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.hadoop.fs.{Path => HPath}
    val versions = snapshotVersions(tableDir)
    val feedDir = s"$tableDir/_cdf/v$toVersion"
    // one commit: its materialized feed IS this diff (materializeCdf
    // diffs the same immutable snapshots from the newest one below
    // `toVersion`), so it is read back, not recomputed
    if (versions.contains(toVersion) &&
        versions.filter(_ < toVersion).lastOption.contains(fromVersion) &&
        Fs.of(tableDir, spark).exists(new HPath(feedDir, "_SUCCESS")))
      Layout.readParquet(spark, Seq(feedDir)).drop("_commit_version")
    else diffFeed(spark, tableDir, fromVersion, toVersion)
  }

  /** [[changeDataFeed]] computed from the snapshots' files — what
    * [[materializeCdf]] writes and any interval other than one
    * materialized commit reads. */
  private[graft] def diffFeed(
      spark: SparkSession, tableDir: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    // files keyed by snapshot-RELATIVE path (identical across linked
    // snapshots on any layout, partition dirs included)
    def files(v: Long): Map[String, String] = {
      import org.apache.hadoop.fs.{Path => HPath}
      val d = s"$tableDir/v$v"
      require(Fs.of(d, spark).exists(new HPath(d)),
        s"snapshot v$v not found under $tableDir")
      Layout.listDataFiles(spark, d)
        .map(f => relPath(d, f) -> f).toMap
    }
    val from = files(fromVersion); val to = files(toVersion)
    val fromOnly = (from.keySet -- to.keySet).toSeq.sorted.map(from)
    val toOnly = (to.keySet -- from.keySet).toSeq.sorted.map(to)
    // Each side reads under its snapshot's `_schema.json`, as
    // readSnapshotData does; without one, mergeSchema: one SIDE can
    // already mix schemas (an interval spanning the evolution point has
    // pre- and post-evolution fresh files in its to-only set). basePath
    // keeps partition-directory columns alive on the direct file reads
    // of a Hive layout.
    val sidecar = Map(fromVersion -> readSchemaSidecar(s"$tableDir/v$fromVersion"),
      toVersion -> readSchemaSidecar(s"$tableDir/v$toVersion"))
    def rows(fs: Seq[String], v: Long): DataFrame = {
      val root = s"$tableDir/v$v"
      if (fs.isEmpty)
        // schema-only: the sidecar or ONE footer, not a mergeSchema
        // sweep of every file — a DV-only commit has both file-diff
        // sides empty; evolved columns a single footer misses are
        // null-filled by align(), whose column set unions every leg
        // INCLUDING the DV image source
        Layout.readParquet(spark, Seq(root), sidecar(v)).limit(0)
      else Layout.readParquet(spark, fs, sidecar(v), Some(root), mergeSchema = true)
    }
    val before0 = rows(fromOnly, fromVersion)
    val after0 = rows(toOnly, toVersion)
    // ---- deletion-vector delta: the feed reflects the LOGICAL table
    // (readWithDeletes' view), so DV state is part of the diff. The
    // formulation that makes every transition surface exactly once:
    //  - LIVE views: each file-diff side is anti-joined with its OWN
    //    side's DV before the excepts. This (a) stops a DV'd key's
    //    later physical drop from re-reporting the delete, (b) stops
    //    an insert-then-DV-delete interval from feeding a phantom
    //    row, and (c) lets an explicit resurrection (upsert of a
    //    DV-deleted key) surface as the insert it logically is, even
    //    when the re-inserted row is byte-identical to the old one.
    //  - DV-delta images: keys newly in the to-side DV emit their
    //    rows as delete images, fetched ONLY from files SHARED by
    //    both snapshots (a rewritten file is the file-diff legs' job
    //    — fetching from shared files is what prevents a COW-delete +
    //    redundant-DV interval from double-reporting), manifest-
    //    pruned within the shared set so the leg costs ∝ affected
    //    files. Net invariants, spec-pinned: each logical delete
    //    surfaces once, at the commit that logically removed it; a
    //    pure compaction interval feeds nothing; an insert-then-
    //    DV-delete interval nets to nothing.
    // (keys, small?) — broadcast the join side while the sidecar is
    // small, shuffle past it: the same bound readWithDeletes applies
    def dvKeysOf(v: Long): Option[(DataFrame, Boolean)] =
      dvFiles(spark, s"$tableDir/v$v").map { parts =>
        (Layout.readParquet(spark, Seq(dvDir(s"$tableDir/v$v"))),
          parts.map(_.getLen).sum <= DvBroadcastMaxBytes)
      }
    def hint(df: DataFrame, small: Boolean): DataFrame =
      if (small) broadcast(df) else df
    val fromDv = dvKeysOf(fromVersion)
    val toDv = dvKeysOf(toVersion)
    val dvImages: Option[DataFrame] = toDv.map { case (t, tSmall) =>
      val newKeys = fromDv match {
        case Some((f, _)) => t.exceptAll(f)
        case None => t
      }
      val kc = t.schema.fieldNames.head
      val kt = t.schema.head.dataType
      val sharedNames = from.keySet & to.keySet
      val sharedPaths = sharedNames.toSeq.sorted.map(to)
      val toRoot = s"$tableDir/v$toVersion"
      val src =
        if (sharedPaths.isEmpty) rows(Nil, toVersion)
        else if (!isManifestKeyType(kt)) rows(sharedPaths, toVersion)
        else {
          // bounds: the cached manifest filtered to the shared set, or
          // footers of ONLY the shared files — the fallback must not
          // footer-read the whole snapshot to then discard the rows
          val bounds = cachedBounds(spark, toRoot, kc, () => to.keySet)
            .map(_.filter(col("file").isin(sharedNames.toSeq: _*)))
            .getOrElse(boundsFrame(spark,
              footerBounds(spark, sharedPaths, Seq(kc -> kt), toRoot)))
          val candidates = broadcast(bounds)
            .join(newKeys.select(col(kc).cast(kt).as("__k")).distinct(),
              inBounds(col("__k"), kt),
              "left_semi")
            .select(col("file")).collect().map(_.getString(0)).toSet
          val cand = sharedPaths.filter(f =>
            candidates.contains(relPath(toRoot, f)))
          rows(cand, toVersion)
        }
      src.join(hint(newKeys, tSmall), Seq(kc), "left_semi")
    }
    // align every leg (exceptAll is positional): every column any leg
    // carries, in a stable order, null-filled where absent — the DV
    // image source's schema is included because BOTH file-diff sides
    // can be empty single-footer reads that miss evolved columns
    val types = (before0.schema ++ after0.schema ++
        dvImages.map(_.schema.toSeq).getOrElse(Seq.empty))
      .map(f => f.name -> f.dataType).toMap
    val allCols = (before0.columns ++ after0.columns ++
      dvImages.map(_.columns.toSeq).getOrElse(Seq.empty)).distinct
    def align(df: DataFrame): DataFrame =
      df.select(allCols.map(c =>
        if (df.columns.contains(c)) col(c)
        else lit(null).cast(types(c)).as(c)): _*)
    def antiDv(df: DataFrame, dv: Option[(DataFrame, Boolean)]): DataFrame =
      dv match {
        case Some((k, small)) =>
          df.join(hint(k, small), k.schema.fieldNames.toSeq, "left_anti")
        case None => df
      }
    val beforeLive = antiDv(align(before0), fromDv)
    val afterLive = antiDv(align(after0), toDv)
    // ONE signed-count aggregate replaces the exceptAll PAIR. Spark
    // plans each exceptAll as union(+1 / -1) → count-aggregate →
    // replicate (RewriteExceptAll), so the old insert and delete legs
    // each scanned BOTH file-diff sides and paid their own aggregation
    // exchange: 4 leg scans, 2 Exchanges. Fusing the pair into one
    // aggregate keyed the same way (every data column) computes
    // net = count(after) − count(before) per row value: the insert leg
    // is exactly max(net, 0) copies, the delete leg exactly
    // max(−net, 0) — the aggregate's null-safe grouping IS exceptAll's
    // row-equality, so the output multiset is identical (oracle-pinned
    // by the whole CDC family). 2 scans per leg → 1, 2 Exchanges → 1.
    val dataCols = allCols.toSeq.map(col)
    // Internal tag columns must not collide with user data: a table
    // with a column literally named "__sgn" would have its values
    // overwritten with ±1 AND the sign would join the grouping key, so
    // nothing cancels. Derive collision-free names from the actual
    // schema (underscore-prefix until fresh; stays a bare SQL
    // identifier for the expr() strings below).
    def freshName(base: String): String = {
      var n = base
      while (allCols.contains(n)) n = "_" + n
      n
    }
    val sgnC = freshName("__sgn")
    val netC = freshName("__net")
    val chunkC = freshName("__chunk")
    val net = afterLive.withColumn(sgnC, lit(1L))
      .unionByName(beforeLive.withColumn(sgnC, lit(-1L)))
      .groupBy(dataCols: _*)
      .agg(sum(col(sgnC)).as(netC))
      .filter(col(netC) =!= 0L)
    // Replication = |net| copies of each surviving row value. A single
    // sequence(1, abs(net)) materializes the whole replication array in
    // ONE expression eval (multi-MB per group when a value nets millions
    // of copies, hard error past ~2.1B) — a guide-§5 memory hazard the
    // old exceptAll (streaming ReplicateRows) did not have. Chunked
    // two-stage explode bounds any one array at ReplicateChunk elements
    // (outer: ceil(|net|/C) chunk ids, inner: per-chunk count; total
    // exactly |net|), and the generators stream rows batch-by-batch.
    val C = ReplicateChunk
    val fileDiff = net
      .withColumn("_change_type",
        when(col(netC) > 0L, lit("insert")).otherwise(lit("delete")))
      .withColumn(chunkC,
        explode(expr(s"sequence(0L, (abs($netC) - 1L) div $C)")))
      .withColumn(freshName("__dup"), explode(expr(
        s"sequence(1L, least(cast($C as bigint), abs($netC) - $chunkC * $C))")))
      .select(dataCols :+ col("_change_type"): _*)
    dvImages match {
      case Some(i) => fileDiff.unionByName(
        align(i).withColumn("_change_type", lit("delete")))
      case None => fileDiff
    }
  }

  /** Materialize the change feed of commit `toVersion` as parquet under
    * `_cdf/v<toVersion>` — the WRITE-side half of a streaming change
    * data feed (how production formats ship CDF: Delta's
    * `_change_data` directory). The version dirs under `_cdf` form an
    * append-only file set that a standard Structured Streaming file
    * source subscribes to ([[graft.streaming.Streams.cdfStream]]), so
    * the versioned COW table becomes a streamable input with zero
    * custom source code. Cost ∝ changed files ([[changeDataFeed]]'s
    * property); the first snapshot's feed is the full snapshot as
    * inserts. The `from` side is the latest COMPLETE version below
    * `toVersion` (vacuum/replay-safe; a crashed writer's empty claim dir
    * is not complete, see [[isComplete]]). A replayed commit rewrites its
    * feed dir (new file names) — downstream delivery is therefore
    * at-least-once; consumers key idempotence off `_commit_version`.
    * It always runs the diff (never reads a feed back, its own
    * included); [[changeDataFeed]] then serves the dir for that one
    * commit instead of diffing again.
    *
    * @return the feed directory written */
  /** @param feedFilesPerVersion bound the feed dir's parquet file
    *   count (coalesce) — the admission-control contract with a
    *   rate-limited subscriber: with k files per version,
    *   [[graft.streaming.Streams.cdfStream]]'s `maxFilesPerTrigger =
    *   k·m` admits at most m versions per micro-batch, so a
    *   backlogged consumer catches up in bounded steps instead of one
    *   giant batch. 0 (default) leaves the write's natural
    *   parallelism — the right call for huge backfill commits. */
  def materializeCdf(
      spark: SparkSession, tableDir: String, toVersion: Long,
      feedFilesPerVersion: Int = 0): String = {
    val out = s"$tableDir/_cdf/v$toVersion"
    val prior = snapshotVersions(tableDir).filter(_ < toVersion)
    val logged = commitLogVersions(tableDir)
    val base = prior.reverseIterator.find(isComplete(tableDir,
      prior.map(v => v -> readCommitInfo(s"$tableDir/v$v").isDefined).toMap, logged))
    val feed = base match {
      case None =>
        readSnapshot(spark, tableDir, toVersion).withColumn("_change_type", lit("insert"))
      case Some(from) => diffFeed(spark, tableDir, from, toVersion)
    }
    val sized =
      if (feedFilesPerVersion > 0) feed.coalesce(feedFilesPerVersion) else feed
    sized.withColumn("_commit_version", lit(toVersion))
      .write.mode("overwrite").parquet(out)
    out
  }

  /** Retention: delete all but the newest `keep` snapshots (never the
    * one CURRENT points to). Old snapshots are what time travel reads;
    * vacuum is the explicit decision to give that up for space.
    * Deleting a snapshot whose files are hard-linked into newer
    * snapshots only UNLINKS them — the shared inodes survive in every
    * other snapshot, which is what makes link-based COW safe to
    * vacuum in any order.
    *
    * @return versions deleted */
  def vacuum(tableDir: String, keep: Int): Seq[Long] = {
    require(keep >= 1, "must keep at least one snapshot")
    val versions = snapshotVersions(tableDir)
    val current = currentVersion(tableDir)
    val drop = versions.dropRight(keep).filterNot(current.contains)
    // Snapshots written by `commit` contain a `_manifest/` SUBDIRECTORY,
    // so the delete must be recursive — a flat file loop silently left
    // the version directory behind (still listed by snapshotVersions,
    // readSnapshot then returned a broken read). Only versions whose
    // directory is verifiably GONE are reported deleted.
    val deleted = drop.filter { v =>
      val d = new org.apache.hadoop.fs.Path(s"$tableDir/v$v")
      val fs = Fs.of(tableDir)
      fs.delete(d, true)
      !fs.exists(d)
    }
    // Change-feed retention rides snapshot retention: `_cdf/v*` dirs
    // for versions older than the oldest snapshot still on disk are
    // unreachable history (their commits can no longer be time-traveled
    // to) and would otherwise accumulate forever — the feed is written
    // per commit ([[materializeCdf]]) but was never reclaimed. Feeds
    // for retained snapshots stay: a late subscriber may still replay
    // them.
    reclaimMetadata(tableDir)
    deleted
  }

  /** The metadata half of retention, shared by both vacuum shapes:
    * `_cdf` feed versions below the oldest retained snapshot are
    * unreachable history and reclaim (stamping the feed's LOW
    * WATERMARK first — see [[cdfLowWatermark]]), and the commit log
    * truncates to the retention window ([[truncateCommitLog]]) so the
    * per-read listing cost is bounded by retention, not table age. */
  private def reclaimMetadata(tableDir: String): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    val fs = Fs.of(tableDir)
    val oldestKept = snapshotVersions(tableDir).headOption.getOrElse(Long.MaxValue)
    val feeds = Fs.listDirs(fs, new HPath(s"$tableDir/_cdf"))
      .filter(_.getName.matches("v\\d+"))
    val (drop, keep) = feeds.partition(_.getName.drop(1).toLong < oldestKept)
    if (drop.nonEmpty) {
      // LOW WATERMARK BEFORE the deletes: a subscriber that has not yet
      // consumed a reclaimed feed version would otherwise just never
      // see its files (a file-source lists what exists — a silent gap,
      // the mirror diverges forever). The marker is what lets
      // [[graft.streaming.Streams.mirrorFromCdf]] refuse loudly
      // instead. Crash between the stamp and the deletes leaves a
      // conservative watermark — safe (it can only over-refuse).
      val survive = keep.map(_.getName.drop(1).toLong)
      val wm = if (survive.nonEmpty) survive.min
               else drop.map(_.getName.drop(1).toLong).max + 1
      Fs.writeTextAtomic(fs, new HPath(s"$tableDir/_cdf/_low_watermark.json"),
        Fs.json(("min_feed_version" -> wm) ~ ("ts" -> System.currentTimeMillis())))
      drop.foreach(fs.delete(_, true))
    }
    truncateCommitLog(tableDir, oldestKept)
  }

  /** Lowest change-feed version still on disk, per the vacuum stamp —
    * feeds below it were reclaimed and can never be delivered again.
    * None = no feed version was ever reclaimed. */
  def cdfLowWatermark(tableDir: String): Option[Long] = {
    import org.apache.hadoop.fs.{Path => HPath}
    Fs.readJson(Fs.of(tableDir), new HPath(s"$tableDir/_cdf/_low_watermark.json"))
      .map(doc => (doc \ "min_feed_version").extract[Long])
  }

  /** Time-based retention ([[vacuum]]'s count-based twin — the shape
    * production tables actually run, Delta's `RETAIN n HOURS`):
    * reclaim snapshot versions whose directory mtime is older than
    * `maxAgeMs`. Age alone never suffices to delete — the CURRENT
    * version and the newest `keepAtLeast` versions survive regardless
    * (an idle table must not vacuum itself to nothing), and `_cdf`
    * retention rides the surviving snapshot set exactly as in
    * [[vacuum]]. Hard links make this cheap: an old version whose
    * files all live on in later snapshots frees only metadata.
    *
    * @return versions verifiably deleted */
  def vacuumOlderThan(
      tableDir: String, maxAgeMs: Long, keepAtLeast: Int = 1): Seq[Long] = {
    require(keepAtLeast >= 1, "must keep at least one snapshot")
    val versions = snapshotVersions(tableDir)
    val current = currentVersion(tableDir)
    val cutoff = System.currentTimeMillis() - maxAgeMs
    val protectedNewest = versions.takeRight(keepAtLeast).toSet
    val drop = versions
      .filterNot(protectedNewest)
      .filterNot(current.contains)
      // age by the _commitinfo stamp (dir-mtime fallback for
      // pre-audit snapshots) — the same clock TIMESTAMP AS OF reads,
      // so retention and time travel can't disagree about when a
      // snapshot was committed
      .filter(v => commitTimestamp(tableDir, v) < cutoff)
    val deleted = drop.filter { v =>
      val d = new org.apache.hadoop.fs.Path(s"$tableDir/v$v")
      val fs = Fs.of(tableDir)
      fs.delete(d, true)
      !fs.exists(d)
    }
    reclaimMetadata(tableDir)
    deleted
  }
}
