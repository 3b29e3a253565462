package graft.operators

import graft.Tables.t
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed co-located joins — the 100 TB fact⋈fact tool (SURVEY §2
  * preamble): write both sides bucketed+sorted on the join key once, and
  * every subsequent join on that key is shuffle-free (SortMergeJoin with
  * no Exchange). Works against Spark's built-in session catalog (no Hive
  * needed); at cluster scale the same API writes to the shared metastore.
  */
object Bucketing {

  type Q = (SparkSession, String) => DataFrame

  /** Write `df` as a bucketed, sorted table — managed, or EXTERNAL when
    * `path` is given. The repartition(buckets, key) BEFORE the write
    * aligns each task with exactly one bucket (repartition's hash-pmod
    * IS the bucket-id function), so every bucket lands as one file and
    * the SORTED BY metadata is usable at read time (the
    * bucketedTableScan.outputOrdering conf's one-file precondition). */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int, path: Option[String] = None): Unit = {
    val w = df.repartition(buckets, col(key)).write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
    // completion marker the layout probes can trust on object-store
    // configs where _SUCCESS is disabled (the Hfs.CommitMarker rule
    // every segment sink here follows)
    path.foreach(p =>
      graft.sinks.Hfs.markSegmentCommitted(df.sparkSession, p))
  }

  /** Join two bucketed tables on their bucket key — planner elides both
    * Exchanges when bucket counts line up. */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
      key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)

  /** True iff the physical plan contains no shuffle exchange — ANY
    * partitioning (hash, range, single-partition, round-robin), not just
    * the literal hash form: matching only "Exchange hashpartitioning"
    * certified an orderBy's range-partition shuffle as shuffle-free.
    * BroadcastExchange is NOT a shuffle and stays allowed. */
  def isShuffleFree(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan.toString
    // strip the two non-shuffle exchange spellings, then look: a
    // ReusedExchange over a broadcast would otherwise read as a
    // shuffle (and the previous un-stripped first disjunct was dead —
    // the stripped check alone is complete)
    !plan.replace("BroadcastExchange ", "")
      .replace("ReusedExchange ", "")
      .contains("Exchange ")
  }

  // ---------------------------------------------------------------------
  // Stored bucketed layout per sf dir — the co-located-join lifecycle as
  // a first-class stored "index", like the ANN/dedup families: built once
  // (an ingest job at 100 TB), then every orderkey join against it is
  // exchange-free. q97 runs THROUGH this layout and hash-compares against
  // the plain-SQL oracle, so the layout is driver-oracle-verified, not
  // spec-only.
  // ---------------------------------------------------------------------

  private val pairSources = Seq("orders", "lineitem")

  /** The [[graft.sinks.Lifecycle]] tag of the bucketed layout `kind`
    * over `d`: it folds BOTH fact fixtures (a regenerated orders.parquet
    * must invalidate the layout even if lineitem is unchanged) and is
    * identifier-safe, because it names catalog TABLES, not just
    * directories. */
  private def pairTag(s: SparkSession, d: String, kind: String,
      variant: String = ""): String = {
    val loc = graft.sinks.Lifecycle.location(s, d, pairSources, kind, variant)
    loc.drop(loc.lastIndexOf('/') + 1)
  }

  /** Ensure both fact tables exist as bucketed+sorted EXTERNAL tables
    * for `d` and return their catalog names. The layout is published
    * through [[graft.sinks.Lifecycle]] (bucket count as its variant — a
    * cluster build would use thousands): [[writeBucketed]]'s task/bucket
    * alignment makes every bucket one file, so the scan's SORTED BY
    * metadata holds — without it Spark sees multi-file buckets and
    * re-sorts under the join. The build saves under the serving names
    * (an Overwrite save replaces any entry an earlier build left) and
    * then drops them, because they point into the stage; a crash or a
    * torn leftover (no `__done`) is cleared and rebuilt, and the
    * catalog only ever points at a published layout. One cold-start
    * path: a name the catalog lacks (a first serve, a rebuild, or a
    * fresh JVM over the in-memory catalog — the session-catalog twin of
    * a metastore restore) is re-registered over the published files
    * with CREATE TABLE … CLUSTERED/SORTED BY … LOCATION; the data is
    * not rewritten. */
  def ensureBucketedPair(s: SparkSession, d: String,
      buckets: Int = 8): (String, String) = {
    val specs = Seq(("orders", "o_orderkey"), ("lineitem", "l_orderkey"))
    val variant = s"_b$buckets"
    val tag = pairTag(s, d, "bkt", variant)
    def name(src: String) = s"graft_bkt_${src}_$tag"
    val loc = graft.sinks.Lifecycle.ensure(s, d, pairSources, "bkt",
        variant) { stage =>
      specs.foreach { case (src, key) =>
        writeBucketed(t(s, d, src), name(src), key, buckets,
          Some(s"$stage/$src"))
        s.sql(s"DROP TABLE ${name(src)}")
      }
    }
    val names = specs.map { case (src, key) =>
      // IF NOT EXISTS: two threads may both find the name missing
      if (!s.catalog.tableExists(name(src)))
        s.sql(s"CREATE TABLE IF NOT EXISTS ${name(src)} " +
          s"(${t(s, d, src).schema.toDDL}) USING PARQUET " +
          s"CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS " +
          s"LOCATION '$loc/$src'")
      name(src)
    }
    (names.head, names(1))
  }

  /** q97: revenue by order priority THROUGH the stored bucketed pair —
    * the orders⋈lineitem join runs as a SortMergeJoin with no Exchange
    * (both sides bucketed on their orderkey, equal bucket counts), so
    * the only shuffle in the plan is the 5-row priority aggregate's.
    * The per-partition Sorts under the SMJ are also elidable — the
    * layout guarantees one file per bucket, so enabling
    * spark.sql.legacy.bucketedTableScan.outputOrdering (off by default
    * since Spark 3.0: the planner won't pay the files-per-bucket check)
    * removes them; the query does not flip session confs itself, so the
    * default plan keeps the two narrow in-partition sorts and ZERO wide
    * operators. The merge hints pin the strategy the 100 TB plan needs:
    * a fact⋈fact join is never broadcastable, and without the hint the
    * sf-sized fixture would take BHJ and prove nothing. BucketingSpec
    * asserts the exchange-free subtree (sort-free under the conf), the
    * re-register-from-files path, and bucket-pruned point reads; the
    * oracle takes the plain parquet-scan road, so the layout's CONTENT
    * is hash-verified too. */
  val bucketedRevenue: Q = (s, d) => {
    val (o, l) = ensureBucketedPair(s, d)
    s.table(o).hint("merge")
      .join(s.table(l).hint("merge"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
  }

  // ---------------------------------------------------------------------
  // Incremental lifecycle: a LIVE bucketed fact table. Streaming appends
  // land as plain delta segments (overwrite-by-ingestId, the replay
  // contract every index family here uses); a periodic fold rebuilds the
  // bucketed main from main ∪ deltas and commits by atomically flipping
  // a version pointer (`__meta`: the new main's version plus the
  // highest folded delta id), not by sinks.IngestSegments'
  // rename-before-delete: that one is sound only for the
  // duplicate-tolerant readers of the segment indexes, and a fact join
  // must never see a row twice. Readers join the bucketed main exchange-free and the
  // (small, recent) delta tail however the planner likes; after a fold
  // the tail is empty and the whole table is co-located again.
  //
  // Layout under `loc`:
  //   __meta               "version,horizon,key,buckets" (atomic
  //                        writeString; horizon = highest delta ingest
  //                        id folded into the current main)
  //   main_v<K>/           bucketed+sorted files of version K (external
  //                        catalog table <base>_v<K>)
  //   delta/ingest=<N>/    plain parquet micro-batch appends, N >= 0
  //
  // Crash windows (fold): before the __meta flip, the new main_v(K+1)
  // is unreferenced garbage — the next fold deletes every main_v* that
  // is not the current version before writing. After the flip but
  // before cleanup, folded deltas (ids <= horizon) and the old main
  // still exist but readers EXCLUDE them by horizon/version — the next
  // fold completes the deletes. Nothing is ever deleted before the
  // pointer stops referencing it.
  //
  // Caller contracts: one maintenance process per table (the Hfs.rename
  // rule); rows are append-only facts whose uniqueness is the upstream
  // admission's job (the vec_id-immutability stance of the ANN ingests).
  //
  // COST BOUND, stated plainly: a fold rewrites the ENTIRE main —
  // O(table), not O(tail) — because hash-bucketing spreads every
  // micro-batch across all buckets, so no bucket subset is untouched.
  // The cadence knob trades that rewrite amplification against tail
  // size (tail rows pay a shuffle at every read's join until folded).
  // At 100 TB a single monolithic table would make folds prohibitive;
  // the production shape is the one q90 already uses for training
  // shards: RANGE-partition the fact (by date/tenant), run one of these
  // lifecycles per partition, and fold only partitions with live deltas
  // — each fold is then O(partition), and old partitions freeze. The
  // lifecycle here is that per-partition unit.
  // ---------------------------------------------------------------------

  private def metaPath(loc: String) = s"$loc/__meta"

  private def readMeta(s: SparkSession, loc: String): (Long, Long, String, Int) =
    graft.sinks.Hfs.readString(s, metaPath(loc)) match {
      case Some(m) => m.split(",") match {
        case Array(v, h, key, b) => (v.toLong, h.toLong, key, b.toInt)
        case _ => sys.error(s"corrupt bucketed-table meta at ${metaPath(loc)}: " +
          s"'$m' — expected 'version,horizon,key,buckets'")
      }
      case None => sys.error(s"no bucketed table under $loc — bootstrap first")
    }

  private def versionTable(base: String, v: Long) = s"${base}_v$v"

  /** Re-register version `v`'s catalog entry if a fresh JVM lost it
    * (the ensureBucketedPair DDL path, generalized). */
  private def ensureRegistered(s: SparkSession, loc: String, base: String,
      v: Long, key: String, buckets: Int): String = {
    val name = versionTable(base, v)
    if (!s.catalog.tableExists(name)) {
      val dir = s"$loc/main_v$v"
      val ddl = s.read.parquet(dir).schema.toDDL
      s.sql(s"CREATE TABLE $name ($ddl) USING PARQUET " +
        s"CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS " +
        s"LOCATION '$dir'")
    }
    name
  }

  /** Pre-commit breadcrumb distinguishing a crashed BULK bootstrap's
    * main_v0 (bulk rows that exist nowhere else — a cold-start fold
    * must refuse to discard them) from a crashed cold-start FOLD's
    * main_v0 (derived from deltas that still exist — safe to redo). */
  private def bootstrapAttemptPath(loc: String) = s"$loc/__bootstrap_attempt"

  /** Create version 0 from a bulk frame. Fails loudly if the table
    * already exists — a bootstrap must never silently reset a live
    * table's horizon (re-bootstrap = delete the directory first). */
  def bootstrapBucketed(df: DataFrame, loc: String, base: String,
      key: String, buckets: Int): Unit = {
    val s = df.sparkSession
    require(graft.sinks.Hfs.readString(s, metaPath(loc)).isEmpty,
      s"bucketed table already exists under $loc — deltas may be live; " +
        "delete the directory to rebuild from scratch")
    graft.sinks.Hfs.writeString(s, bootstrapAttemptPath(loc), "bulk")
    writeBucketed(df, versionTable(base, 0L), key, buckets, Some(s"$loc/main_v0"))
    graft.sinks.Hfs.writeString(s, metaPath(loc), s"0,-1,$key,$buckets")
    graft.sinks.Hfs.deleteRecursive(s, bootstrapAttemptPath(loc))
  }

  /** Append a micro-batch as delta segment `ingestId` (>= 0, the
    * streaming batch-id space) — overwrite mode, so an at-least-once
    * replay replaces its own output. */
  def ingestBucketedDelta(df: DataFrame, loc: String, ingestId: Long): Unit = {
    require(ingestId >= 0,
      s"delta ingest ids are streaming batch ids (>= 0), got $ingestId")
    // an empty micro-batch writes nothing: a 0-row partitioned write
    // leaves a footerless dir that every later read would have to
    // special-case (the streaming writers' shared rule)
    if (df.isEmpty) return
    val seg = s"$loc/delta/ingest=$ingestId"
    df.write.mode(SaveMode.Overwrite).parquet(seg)
    // marker AFTER the data: a segment without it is torn (crash
    // mid-ingest) and is EXCLUDED from snapshots and folds until the
    // stream's replay overwrites it — folding a torn segment would
    // delete it under a horizon that claims its rows were kept
    graft.sinks.Hfs.markSegmentCommitted(df.sparkSession, seg)
  }

  /** Current readable state: (bucketed main, unfolded delta tail).
    * The delta tail is None when every segment is folded — then every
    * join on the key is fully co-located. Main and tail share the main's
    * column order; the tail may double as the "recent" side of a
    * broadcast join (it is micro-batch-sized by construction). */
  def bucketedSnapshot(s: SparkSession, loc: String,
      base: String): (DataFrame, Option[DataFrame]) = {
    val (main, tail) = snapshotWithIds(s, loc, base)
    (main, tail.map(_._1))
  }

  /** The COMMITTED delta segments above `h`, with the EXACT id listing
    * the frame was planned over (a TOCTOU rule: the fold must delete
    * precisely the segments it folded, not a second listing's). Uncommitted (torn, crash-mid-ingest) segments are
    * excluded from read AND fold — they heal when the stream replays
    * their batch; folding one would delete rows the horizon then claims
    * were kept. The read retries the fold-delete race (a reader in
    * another process between this listing and its plan) and treats
    * all-footerless as empty; the residual action-time window fails
    * loudly and transiently, exactly as IngestSegments documents. */
  private def committedDeltas(s: SparkSession, loc: String,
      h: Long): Option[(DataFrame, Seq[Long])] =
    graft.sinks.Hfs.withPathRaceRetry() {
      val ids = graft.sinks.IngestSegments
        .liveSegments(s, s"$loc/delta").filter(_ > h)
        .filter(id =>
          graft.sinks.Hfs.segmentCommitted(s, s"$loc/delta/ingest=$id"))
      if (ids.isEmpty) None
      else
        try Some((s.read.option("basePath", s"$loc/delta")
          .parquet(ids.map(id => s"$loc/delta/ingest=$id"): _*)
          .drop("ingest"), ids))
        catch {
          case e: org.apache.spark.sql.AnalysisException
              if e.getCondition == "UNABLE_TO_INFER_SCHEMA" => None
        }
    }

  /** bucketedSnapshot plus the folded-id listing (see
    * [[committedDeltas]]). */
  private def snapshotWithIds(s: SparkSession, loc: String,
      base: String): (DataFrame, Option[(DataFrame, Seq[Long])]) = {
    val (v, h, key, buckets) = readMeta(s, loc)
    val main = s.table(ensureRegistered(s, loc, base, v, key, buckets))
    val tail = committedDeltas(s, loc, h).map { case (df, ids) =>
      (df.select(main.columns.map(col).toIndexedSeq: _*), ids)
    }
    (main, tail)
  }

  /** Fold the delta tail into a new bucketed main (version+1) and flip
    * the pointer. Cleans up everything a previous crashed fold left:
    * non-current main_v* dirs (pre-flip garbage) and already-folded
    * delta segments (post-flip stragglers). No-op when the tail is
    * empty.
    *
    * `coldStart = Some((key, buckets))` lets a table that has only ever
    * seen delta ingests fold without a bulk bootstrap: main_v0 is built
    * FROM the deltas under the same commit order (main written → meta
    * flipped → deltas deleted), so a crash anywhere leaves either the
    * pre-fold state or the committed one — never duplicated rows. A
    * stream that starts cold and first folds at batch `foldEvery-1`
    * would otherwise wedge on readMeta's loud failure forever (the
    * quality-gate cold-start lesson). */
  def foldBucketedDeltas(s: SparkSession, loc: String, base: String,
      coldStart: Option[(String, Int)] = None): Unit = {
    val (v, h, key, buckets) =
      (graft.sinks.Hfs.readString(s, metaPath(loc)), coldStart) match {
        case (None, Some((k, b))) =>
          // a crashed BULK bootstrap's main_v0 holds rows that exist
          // nowhere else — discarding it here would commit a main that
          // silently lost the whole bulk history. Its breadcrumb makes
          // the refusal loud; without one, any main_v* is a crashed
          // cold-start fold's garbage, derived from deltas still on
          // disk, and safe to redo.
          require(!graft.sinks.Hfs.exists(s, bootstrapAttemptPath(loc)),
            s"a bulk bootstrap of $loc crashed before its commit — " +
              "re-run bootstrapBucketed (or delete the directory) " +
              "instead of cold-start folding, which would drop the bulk rows")
          graft.sinks.Hfs.childDirs(s, loc, "main_v")
            .map(_.stripPrefix("main_v").toLong).foreach { kk =>
              s.sql(s"DROP TABLE IF EXISTS ${versionTable(base, kk)}")
              graft.sinks.Hfs.deleteRecursive(s, s"$loc/main_v$kk")
            }
          committedDeltas(s, loc, h = -1L).foreach { case (df, ids) =>
            s.sql(s"DROP TABLE IF EXISTS ${versionTable(base, 0L)}")
            writeBucketed(df, versionTable(base, 0L), k, b, Some(s"$loc/main_v0"))
            graft.sinks.Hfs.writeString(s, metaPath(loc), s"0,${ids.max},$k,$b")
            ids.sorted.foreach(id =>
              graft.sinks.Hfs.deleteRecursive(s, s"$loc/delta/ingest=$id"))
          }
          return
        case _ => readMeta(s, loc)
      }
    // a stale breadcrumb from a bootstrap that committed but crashed
    // before removing it — the meta pointer exists, so it is done
    graft.sinks.Hfs.deleteRecursive(s, bootstrapAttemptPath(loc))
    // post-flip stragglers of an interrupted cleanup: already in main
    graft.sinks.IngestSegments.liveSegments(s, s"$loc/delta")
      .filter(_ <= h).sorted
      .foreach(id => graft.sinks.Hfs.deleteRecursive(s, s"$loc/delta/ingest=$id"))
    // pre-flip garbage: any main version the pointer does not reference
    graft.sinks.Hfs.childDirs(s, loc, "main_v")
      .map(_.stripPrefix("main_v").toLong).filter(_ != v)
      .foreach { k =>
        s.sql(s"DROP TABLE IF EXISTS ${versionTable(base, k)}")
        graft.sinks.Hfs.deleteRecursive(s, s"$loc/main_v$k")
      }
    val (main, tail) = snapshotWithIds(s, loc, base)
    tail.foreach { case (t, deltaIds) =>
      val newV = v + 1
      s.sql(s"DROP TABLE IF EXISTS ${versionTable(base, newV)}")
      writeBucketed(main.unionByName(t), versionTable(base, newV), key,
        buckets, Some(s"$loc/main_v$newV"))
      // COMMIT: readers atomically move to (newV, newH)
      graft.sinks.Hfs.writeString(s, metaPath(loc),
        s"$newV,${deltaIds.max},$key,$buckets")
      deltaIds.sorted.foreach(id =>
        graft.sinks.Hfs.deleteRecursive(s, s"$loc/delta/ingest=$id"))
      s.sql(s"DROP TABLE IF EXISTS ${versionTable(base, v)}")
      graft.sinks.Hfs.deleteRecursive(s, s"$loc/main_v$v")
    }
  }

  /** foreachBatch writer: delta-append each micro-batch, folding every
    * `foldEvery` batches so the unfolded tail stays micro-batch-sized
    * and the main table stays co-located (the compaction cadence every
    * index family here uses). (key, buckets) are only consulted on a
    * cold start — once version 0 is committed, geometry comes from the
    * meta pointer. */
  def streamingBucketedIngestWriter(loc: String, base: String, key: String,
      buckets: Int, foldEvery: Long = 8L)(batch: DataFrame, batchId: Long): Unit = {
    ingestBucketedDelta(batch, loc, batchId)
    if (batchId % foldEvery == foldEvery - 1)
      foldBucketedDeltas(batch.sparkSession, loc, base, Some((key, buckets)))
  }

  // ---------------------------------------------------------------------
  // Range-partitioned composition — the 100 TB shape the cost-bound note
  // above names: ONE lifecycle per partition value (date, tenant,
  // status), so a fold rewrites only partitions with live deltas and
  // frozen partitions are never touched. Each partition dir `p=<v>` is a
  // complete independent lifecycle (meta pointer, versioned mains, delta
  // segments); the snapshot is the union of per-partition snapshots, and
  // rows keep their partition column so nothing is re-derived on read.
  // ---------------------------------------------------------------------

  /** Partition values become directory names AND catalog-table name
    * fragments — restrict to chars safe for both rather than quoting
    * everywhere. Dates, tenant slugs, and status codes all pass. */
  /** Partition values name directories VERBATIM (the [A-Za-z0-9_-]
    * charset is dir-safe on every filesystem here), so distinct values
    * can never collide on a dir. */
  private def checkPartValue(v: String): String = {
    require(v.nonEmpty && v.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
      s"partition value '$v' — only [A-Za-z0-9_-] values can name " +
        "partition dirs and catalog tables")
    v
  }

  /** Catalog-table name fragment for a partition value — COLLISION-FREE
    * across distinct values, which verbatim use is not: '-' is illegal
    * in unquoted identifiers, and the session catalog is
    * case-INsensitive by default, so 'acme-corp'/'acme_corp' or
    * 'Acme'/'acme' would alias one catalog entry and a fold would
    * silently re-point it across partitions (duplication + loss).
    * Values that survive lowercasing + '-'→'_' unchanged keep their
    * readable name; any transformed value carries an md5 suffix of the
    * RAW value, so no two distinct raws can share a fragment. */
  private def partFragment(v: String): String = {
    val plain = v.toLowerCase.replace('-', '_')
    if (plain == v) plain
    else s"${plain}_${graft.functions.Scalars.md5Hex(v.getBytes("UTF-8")).take(10)}"
  }

  private def partValues(df: DataFrame, partCol: String): Seq[String] =
    // bounded by partitions TOUCHED PER BATCH (a date-partitioned
    // stream touches 1-2), never by the table's partition count
    df.select(col(partCol).cast("string")).distinct()
      .collect().map(_.getString(0))

  /** The touched-partition breadcrumbs: ingest drops one tiny file per
    * partition it writes (BEFORE the delta — a crash between the two
    * leaves a spurious breadcrumb, which a fold simply no-ops and
    * clears; the reverse order could leave a delta no fold ever
    * discovers), and the fold reads THIS directory instead of listing
    * every partition — O(touched) discovery, not O(all partitions)
    * listStatus calls per cadence at a thousand-partition table. File
    * name = fragment, content = the raw value. */
  private def dirtyPath(loc: String, v: String) =
    s"$loc/__dirty/${partFragment(v)}"

  /** Route a micro-batch into its partitions' delta lifecycles. Null
    * partition values are refused loudly — a silently-dropped row is
    * fact loss, and a "null partition" dir would be unreachable by the
    * value-named layout. The batch is checkpointed once: the value
    * enumeration and the per-value filtered writes must not recompute
    * an expensive upstream once per touched partition. */
  def ingestPartitionedDelta(df: DataFrame, loc: String, partCol: String,
      ingestId: Long): Unit = {
    val b = df.localCheckpoint()
    val vals = partValues(b, partCol)
    require(!vals.contains(null),
      s"null $partCol in batch $ingestId — partition columns must be total")
    vals.foreach(checkPartValue)
    val s = df.sparkSession
    vals.foreach { v =>
      graft.sinks.Hfs.writeString(s, dirtyPath(loc, v), v)
      ingestBucketedDelta(b.filter(col(partCol).cast("string") === v),
        s"$loc/p=$v", ingestId)
    }
  }

  /** Fold ONLY partitions with live delta segments, discovered through
    * the dirty breadcrumbs (one listing, O(touched)); frozen partitions
    * are never opened, let alone rewritten — the claim
    * PartitionedTableSpec pins on file listings. Each breadcrumb is
    * cleared only after its partition's fold commits, so a crash
    * mid-sweep re-examines exactly the unswept partitions. */
  def foldPartitionedDeltas(s: SparkSession, loc: String, base: String,
      key: String, buckets: Int): Unit =
    graft.sinks.Hfs.childFiles(s, s"$loc/__dirty").foreach { frag =>
      val bc = s"$loc/__dirty/$frag"
      graft.sinks.Hfs.readString(s, bc).foreach { v =>
        val pLoc = s"$loc/p=$v"
        if (graft.sinks.IngestSegments.liveSegments(s, s"$pLoc/delta").nonEmpty)
          foldBucketedDeltas(s, pLoc, s"${base}_${partFragment(v)}",
            Some((key, buckets)))
      }
      graft.sinks.Hfs.deleteRecursive(s, bc)
    }

  /** Union of per-partition snapshots (each = bucketed main ∪ unfolded
    * tail). A snapshot legitimately enumerates every partition (it IS
    * the full-table read); only the fold's discovery is touched-scoped.
    * Partitions that have only uncommitted (torn) segments and no main
    * yet are skipped — their rows land when the stream replays. */
  def partitionedSnapshot(s: SparkSession, loc: String,
      base: String): Option[DataFrame] = {
    val parts = graft.sinks.Hfs.childDirs(s, loc, "p=").sorted.flatMap { d =>
      val pLoc = s"$loc/$d"
      val pBase = s"${base}_${partFragment(d.stripPrefix("p="))}"
      if (graft.sinks.Hfs.readString(s, metaPath(pLoc)).isDefined) {
        val (main, tail) = bucketedSnapshot(s, pLoc, pBase)
        Some(tail.fold(main)(main.unionByName(_)))
      } else
        // delta-only partition (no fold yet): committed segments are
        // readable state too — a snapshot must not hide them
        committedDeltas(s, pLoc, h = -1L).map(_._1)
    }
    parts.reduceOption(_.unionByName(_))
  }

  /** foreachBatch writer for the partitioned form — the same cadence
    * contract as streamingBucketedIngestWriter, fold scoped to touched
    * partitions. */
  def streamingPartitionedIngestWriter(loc: String, base: String,
      partCol: String, key: String, buckets: Int, foldEvery: Long = 8L)(
      batch: DataFrame, batchId: Long): Unit = {
    ingestPartitionedDelta(batch, loc, partCol, batchId)
    if (batchId % foldEvery == foldEvery - 1)
      foldPartitionedDeltas(batch.sparkSession, loc, base, key, buckets)
  }

  /** Drop the catalog entries of `base`'s versions under `loc`. A build
    * inside a [[graft.sinks.Lifecycle]] stage registers them with a
    * LOCATION in the stage, which publication renames away; a serve
    * re-registers each over the published files ([[ensureRegistered]]). */
  private def dropVersionTables(s: SparkSession, loc: String,
      base: String): Unit =
    graft.sinks.Hfs.childDirs(s, loc, "main_v").foreach(v =>
      s.sql("DROP TABLE IF EXISTS " +
        versionTable(base, v.stripPrefix("main_v").toLong)))

  /** q99's stored layout: orders as a PARTITIONED (by o_orderstatus)
    * bucketed-lifecycle table — partition P folded (frozen main),
    * partition O folded with a live delta tail on top, partition F
    * delta-only (cold, never folded): all three readable states at
    * once, built and published once per fixture by
    * [[graft.sinks.Lifecycle]] (kind `bktpart`). */
  private def ensurePartitionedOrders(s: SparkSession, d: String): (String, String) = {
    val base = s"graft_part_orders_${pairTag(s, d, "bktpart")}"
    val loc = graft.sinks.Lifecycle.ensure(s, d, pairSources, "bktpart") { stage =>
      val o = t(s, d, "orders")
      val keyMod = pmod(col("o_orderkey"), lit(10))
      // batch 0: ALL of P plus most of O → fold freezes P complete and
      // gives O a main; F stays untouched (cold)
      ingestPartitionedDelta(o.filter(col("o_orderstatus") === "P" ||
        (col("o_orderstatus") === "O" && keyMod =!= 0)),
        stage, "o_orderstatus", 0L)
      foldPartitionedDeltas(s, stage, base, "o_orderkey", 8)
      // O's unfolded tail + F's cold delta-only state
      ingestPartitionedDelta(o.filter(col("o_orderstatus") === "O" &&
        keyMod === 0), stage, "o_orderstatus", 1L)
      ingestPartitionedDelta(o.filter(col("o_orderstatus") === "F"),
        stage, "o_orderstatus", 2L)
      graft.sinks.Hfs.childDirs(s, stage, "p=").foreach(p =>
        dropVersionTables(s, s"$stage/$p",
          s"${base}_${partFragment(p.stripPrefix("p="))}"))
    }
    (loc, base)
  }

  /** q99: the partitioned lifecycle's full snapshot must be EXACTLY the
    * orders table across all three partition states at once — P a
    * frozen folded main, O a main plus unfolded tail, F cold
    * delta-only — which the driver's hash gate checks against the
    * plain full-table oracle: no row lost to the partition routing or
    * any lifecycle state, none read twice. */
  val partitionedSnapshotAgg: Q = (s, d) => {
    val (loc, base) = ensurePartitionedOrders(s, d)
    partitionedSnapshot(s, loc, base)
      .getOrElse(sys.error(s"no partitions under $loc"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("amount"))
  }

  /** q98's stored LIVE table: orders split 90/5/5 into a bucketed main
    * and two UNFOLDED delta segments — the worst readable state of the
    * lifecycle (maximal tail), deliberately never folded, so the query
    * exercises the main∪tail merged read, not the post-fold fast path.
    * Built and published once per fixture by [[graft.sinks.Lifecycle]]
    * (kind `bktlive`). */
  private def ensureLiveOrders(s: SparkSession, d: String): (String, String) = {
    val base = s"graft_live_orders_${pairTag(s, d, "bktlive")}"
    val loc = graft.sinks.Lifecycle.ensure(s, d, pairSources, "bktlive") { stage =>
      val o = t(s, d, "orders")
      val keyMod = pmod(col("o_orderkey"), lit(10))
      val keyMod20 = pmod(col("o_orderkey"), lit(20))
      bootstrapBucketed(o.filter(keyMod =!= 0), stage, base, "o_orderkey", 8)
      ingestBucketedDelta(o.filter(keyMod === 0 && keyMod20 =!= 0), stage, 0L)
      ingestBucketedDelta(o.filter(keyMod20 === 0), stage, 1L)
      dropVersionTables(s, stage, base)
    }
    (loc, base)
  }

  /** q98: order-status totals THROUGH the live lifecycle's snapshot —
    * the bucketed main plus the unfolded delta tail must together be
    * EXACTLY the orders table (no row lost to the split, none read
    * twice), which the driver's hash gate checks against the plain
    * full-table oracle. The merged read is the serving shape between
    * folds: main scans bucketed, the tail is micro-batch-sized. */
  val liveSnapshotAgg: Q = (s, d) => {
    val (loc, base) = ensureLiveOrders(s, d)
    val (main, tail) = bucketedSnapshot(s, loc, base)
    tail.fold(main)(main.unionByName(_))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("amount"))
  }

  val queries: Map[String, Q] = Map(
    "q97_bucketed_join" -> bucketedRevenue,
    "q98_bucketed_snapshot" -> liveSnapshotAgg,
    "q99_partitioned_table" -> partitionedSnapshotAgg)

  val oracles: Map[String, String] = Map(
    "q97_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "q98_bucketed_snapshot" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS amount
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    // same oracle shape as q98 ON PURPOSE: the two queries must agree
    // with the full table through entirely different storage states
    "q99_partitioned_table" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS amount
        |FROM orders GROUP BY o_orderstatus""".stripMargin)
}
