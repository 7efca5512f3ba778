package graft.sinks

import graft.types._
import graft.functions.Registry
import graft.sources.ParquetRead
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Sink registry (SURVEY.md §2.11). The reference selects a loader strategy
  * by name at runtime (K3, `postgresql_service.py:92-115`); here the registry
  * is a plain map of writer builders. The bench environment has no Postgres,
  * so the COPY/TSV and upsert paths are realized against files with the same
  * semantics; on a cluster the same DataFrames go to `.jdbc` /
  * `foreachPartition`+CopyManager unchanged.
  */
object Sinks {

  /** K1-parity TSV sink: tab-separated text, empty string as NULL (the COPY
    * `NULL ''` contract, reference `postgresql_service.py:167-170`), values
    * sanitized of tabs/newlines (F3). One file per partition — the
    * distributed analog of the per-batch COPY buffer.
    */
  def writeTsv(df: DataFrame, path: String): Unit = {
    val sanitized = df.columns.foldLeft(df) { (d, c) =>
      d.withColumn(c, Registry.sanitizeTsv(col(c).cast("string")))
    }
    sanitized.write
      .mode(SaveMode.Overwrite)
      .option("sep", "\t")
      .option("header", "true")
      .option("emptyValue", "")
      .option("nullValue", "")
      .csv(path)
  }

  /** Plain columnar sink. */
  def writeParquet(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).parquet(path)

  /** C3 write half — list→NDJSON sink (reference
    * `s3_service.py:146-153` serializes a record list as one JSON object per
    * line): Spark's json writer IS newline-delimited JSON, written
    * distributed, one file per partition — no driver-side serialization loop.
    */
  def writeJson(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).json(path)

  /** Columnar ORC sink (format breadth: some warehouses standardize on ORC;
    * Spark's reader/writer is native and codegen'd like parquet's).
    */
  def writeOrc(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).orc(path)

  /** Range-clustered write: range-repartition then sort within partitions on
    * the given columns before writing. Every output file then covers a tight
    * key range, so parquet row-group min/max statistics actually prune range
    * predicates — on a 100 TB time-ordered table this is the difference
    * between reading the queried window and testing every row group. (The
    * single-dimension analog of Z-ordering; one shuffle at write time,
    * amortized over every later scan.)
    */
  def writeSorted(df: DataFrame, path: String, sortCols: Seq[String]): Unit =
    df.repartitionByRange(sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Z-order clustered write over TWO numeric dimensions: each dimension is
    * quantile-bucketed (2^bits buckets from an `approxQuantile` sketch — a
    * tiny driver-side array, rank-normalizing so skewed distributions still
    * spread over all buckets), bucket indices interleave into a Morton key
    * (codegen'd [[graft.functions.HashExpressions.ZOrderKey]]), and the data
    * range-partitions + sorts on that key. Every output file then covers a
    * tight range in BOTH dimensions simultaneously, so parquet min/max
    * statistics prune predicates on either column or both — what
    * single-column range clustering ([[writeSorted]]) can only give one
    * dimension. The standard 100 TB layout for tables queried by two
    * independent selective columns (e.g. time x customer).
    *
    * Cost: two quantile jobs + one range shuffle at write time, amortized
    * over every later scan. ScaleLayoutSpec asserts the per-file span bound
    * on both dimensions against an unclustered layout.
    */
  def writeZOrdered(
      df: DataFrame,
      path: String,
      colA: String,
      colB: String,
      targetFiles: Int,
      bits: Int = 8): Unit = {
    require(targetFiles >= 1, "targetFiles must be positive")
    val cuts = (1 until (1 << bits)).map(_.toDouble / (1 << bits)).toArray
    val Array(boundsA, boundsB) =
      df.stat.approxQuantile(Array(colA, colB), cuts, 0.001)
    val z = graft.functions.HashExpressions.zOrderKey(
      graft.functions.HashExpressions.bucketIndex(col(colA).cast("double"), boundsA).cast("long"),
      graft.functions.HashExpressions.bucketIndex(col(colB).cast("double"), boundsB).cast("long"),
      bits)
    df.withColumn("__zkey", z)
      .repartitionByRange(targetFiles, col("__zkey"))
      .sortWithinPartitions(col("__zkey"))
      .drop("__zkey")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Hive-style partitioned layout (the S5/A1 `{type: {date: [...]}}`
    * grouping as a directory tree): downstream scans with predicates on the
    * partition columns prune whole directories — the 100 TB idiom for
    * anything consumed by time- or category-restricted queries.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(path)

  /** Raw-text corpus layout — the exchange format for tools that want one
    * plain `.txt` file per document (tokenizer training, manual inspection,
    * external scoring), readable back by
    * [[graft.sources.Sources.textCorpus]]. Two layouts:
    *
    *   - `nShards <= 0` (small-corpus option): one `<idCol>=<value>/
    *     part-*.txt` directory per document, id recovered by partition
    *     discovery. Human-friendly, but one DIRECTORY per document — at
    *     corpus scale that is a filesystem-metadata killer (100M docs =
    *     100M directories, and every planning-time listing walks them).
    *   - `nShards > 0` (the scale layout): `shard=pmod(xxhash64(id),
    *     nShards)/<id>.txt` — directory count bounded by nShards however
    *     large the corpus, one FILE per document, id recovered from the
    *     file name (`input_file_name()` on read). File names carry the id
    *     verbatim when it is filesystem-safe (`[a-z0-9._-]`, no leading
    *     `=` or `.`, no UPPERCASE — see [[TextCorpusLayout]]: the scheme
    *     must stay injective on case-insensitive filesystems), hex-encoded
    *     behind a `=` marker otherwise — an escaping that survives Hadoop
    *     `Path` URI normalization (no `%`, which Path re-encodes
    *     ambiguously). Files are written by the
    *     EXECUTORS (repartitioned by shard, so a shard's files are created
    *     by one task); deterministic names make a replay overwrite, never
    *     duplicate.
    *
    * LINE-ORIENTED contract (both layouts): a body containing a line break
    * would read back as multiple rows — and Hadoop's line reader splits on
    * LF, CR, and CRLF alike, so a lone carriage return corrupts the
    * round-trip exactly like a newline — so both are rejected
    * executor-side rather than silently splitting.
    */
  def writeTextCorpus(df: DataFrame, path: String, idCol: String, textCol: String,
      nShards: Int = 0): Unit = {
    val checked = df.select(
      when(col(idCol).isNull,
        raise_error(lit("writeTextCorpus: a document has NULL id — the " +
          "file name IS the id, so a NULL id has no file name")))
        .when(col(textCol).isNull,
          raise_error(concat(lit("writeTextCorpus: document "), col(idCol).cast("string"),
            lit(" has NULL text — the text format has no NULL (it would round-trip as \"\")"))))
        .when(col(textCol).contains("\n") || col(textCol).contains("\r"),
          raise_error(concat(lit("writeTextCorpus: document "), col(idCol).cast("string"),
            lit(" contains a line break — the line-oriented text format cannot round-trip it"))))
        .otherwise(col(textCol)).as("value"),
      col(idCol))
    if (nShards <= 0)
      checked
        .repartition(col(idCol))
        .write.mode(SaveMode.Overwrite).partitionBy(idCol).text(path)
    else {
      val spark = df.sparkSession
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // Commit protocol: executors write into a staging sibling; the
      // finished staging tree swaps in with TWO METADATA RENAMES (old
      // corpus aside, staging in) — never a delete in the publish path, so
      // no crash point destroys the published corpus before its
      // replacement is live (a crash between the renames leaves BOTH trees
      // intact under their sibling names; a concurrent reader in that
      // instant sees a missing path, the honest signal for a swap in
      // flight). The O(files) recursive delete of the old tree happens
      // only AFTER the new corpus is published. Stale leftovers of a
      // crashed run (staging, the set-aside old tree) are cleaned here, at
      // the start of the next run.
      val staging = new org.apache.hadoop.fs.Path(
        root.getParent, root.getName + ".__staging__")
      val retired = new org.apache.hadoop.fs.Path(
        root.getParent, root.getName + ".__old__")
      // crash RECOVERY before any cleanup: a prior run that died between
      // the two publish renames left root MISSING while the replacement
      // and/or the set-aside old corpus survive under the sibling names —
      // those are the ONLY copies, so roll the swap forward (staging
      // carries _SUCCESS: it is a complete corpus) or back (it does not:
      // restore the old one) rather than deleting them.
      if (!fs.exists(root)) {
        // a FAILED recovery rename must throw, never fall through: the
        // cleanup deletes right below would destroy the sole surviving
        // copy the recovery just failed to restore
        if (fs.exists(new org.apache.hadoop.fs.Path(staging, "_SUCCESS"))) {
          if (!fs.rename(staging, root))
            throw new graft.GraftDataError(
              s"writeTextCorpus: roll-forward rename $staging -> $root failed")
        } else if (fs.exists(retired)) {
          if (!fs.rename(retired, root))
            throw new graft.GraftDataError(
              s"writeTextCorpus: roll-back rename $retired -> $root failed")
        }
      }
      if (fs.exists(staging)) fs.delete(staging, true)
      if (fs.exists(retired)) fs.delete(retired, true)
      fs.mkdirs(staging) // empty input still publishes an empty corpus
      val stagingStr = staging.toString
      val conf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
      checked
        .select(col("value"), col(idCol).cast("string").as("__id"),
          pmod(xxhash64(col(idCol).cast("string")), lit(nShards.toLong)).as("__shard"))
        .repartition(nShards, col("__shard"))
        // a shard's rows land in ONE task; sorting them makes duplicate ids
        // adjacent so the writer rejects them in O(1) memory (the flat
        // layout surfaced duplicates as two part files; deterministic
        // per-id file names would silently clobber instead)
        .sortWithinPartitions(col("__id"))
        .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          if (rows.hasNext) {
            // Path is not Serializable — rebuild from the string inside
            val taskRoot = new org.apache.hadoop.fs.Path(stagingStr)
            val fs = taskRoot.getFileSystem(conf.value)
            val attempt = org.apache.spark.TaskContext.get() match {
              case null => "driver" // direct calls in local tests
              case tc => tc.taskAttemptId().toString
            }
            var prevId: String = null
            rows.foreach { r =>
              val id = r.getString(1)
              if (id == prevId)
                throw new graft.GraftDataError(
                  s"writeTextCorpus: duplicate document id '$id' — one file " +
                    "per id cannot hold two documents; dedup before writing")
              prevId = id
              val name = TextCorpusLayout.fileName(id)
              val dst = new org.apache.hadoop.fs.Path(taskRoot, s"shard=${r.getLong(2)}/$name")
              // Attempt isolation: write a dot-prefixed attempt-unique temp
              // (hidden from readers), then rename into place — the final
              // name is never opened for write, so a zombie or speculative
              // attempt can never leave it truncated. Every attempt of a
              // task produces identical bytes (deterministic input order),
              // so whichever attempt's rename lands, the file is complete
              // and correct; a failed rename onto an existing identical
              // file (HDFS semantics) is success.
              val tmp = new org.apache.hadoop.fs.Path(
                taskRoot, s"shard=${r.getLong(2)}/.$name.$attempt.tmp")
              val out = fs.create(tmp, true)
              try {
                out.write(r.getString(0).getBytes(java.nio.charset.StandardCharsets.UTF_8))
                out.write('\n') // the text-source line terminator ("" stays one row)
              } finally out.close()
              if (!fs.rename(tmp, dst)) {
                if (!fs.exists(dst))
                  throw new graft.GraftDataError(
                    s"writeTextCorpus: publishing rename $tmp -> $dst failed")
                fs.delete(tmp, false) // another attempt already published it
              }
            }
          }
        }
      // sweep orphaned attempt temps before the completeness marker: a
      // lost executor or killed speculative attempt dies between create
      // and rename, and its dot-file — invisible to Spark's reader but NOT
      // to the external `cat shard=N/*` tools this layout exists for —
      // would otherwise be published into the live corpus forever. One
      // task per shard keeps the O(files) listing off the driver.
      spark.sparkContext.parallelize(0 until nShards, math.min(nShards, 32))
        .foreach { shard =>
          val shardDir = new org.apache.hadoop.fs.Path(stagingStr, s"shard=$shard")
          val fs = shardDir.getFileSystem(conf.value)
          if (fs.exists(shardDir))
            fs.listStatus(shardDir).foreach { st =>
              val n = st.getPath.getName
              if (n.startsWith(".") && n.endsWith(".tmp")) fs.delete(st.getPath, false)
            }
        }
      // job succeeded: mark completeness (Spark's FileIndex hides _SUCCESS
      // from readers; external tools get a marker), then the two-rename
      // swap — the previous corpus goes ASIDE, not away, until the new one
      // is live
      fs.create(new org.apache.hadoop.fs.Path(staging, "_SUCCESS"), true).close()
      if (fs.exists(root) && !fs.rename(root, retired))
        throw new graft.GraftDataError(
          s"writeTextCorpus: set-aside rename $root -> $retired failed")
      if (!fs.rename(staging, root)) {
        // restore the old corpus before surfacing the failure
        if (fs.exists(retired)) fs.rename(retired, root)
        throw new graft.GraftDataError(
          s"writeTextCorpus: publishing rename $staging -> $root failed")
      }
      // the retired tree's delete is the only O(files) step and it runs
      // post-publish (readers are already on the new corpus) — but a
      // 100M-file tree recursively deleted from the DRIVER is still a
      // single-actor metadata storm, so the bulk distributes: one task per
      // CHILD OF THE RETIRED TREE ITSELF (its own shard dirs — the
      // previous run's shard count, which need not match this run's), then
      // the driver removes the near-empty remainder. A flat-layout retired
      // tree lists one child per document — that layout is the documented
      // small-corpus option.
      if (fs.exists(retired)) {
        val children = fs.listStatus(retired).map(_.getPath.toString).toSeq
        if (children.nonEmpty)
          spark.sparkContext
            .parallelize(children, math.min(children.length, 32))
            .foreach { c =>
              val p = new org.apache.hadoop.fs.Path(c)
              p.getFileSystem(conf.value).delete(p, true): Unit
            }
        fs.delete(retired, true)
      }
    }
  }

  /** Delete tombstoned documents from the published SHARDED text-corpus
    * layout. In a file-per-document exchange format, deletion IS metadata:
    * each id maps to exactly one `shard=pmod(xxhash64(id), nShards)/<name>`
    * path ([[TextCorpusLayout.fileName]]), so a purge of k tombstones
    * unlinks k files and no byte of any surviving document moves —
    * contrast the parquet corpus, where a purge is a data rewrite under
    * the compaction manifest ([[graft.streaming.Streaming.purgeCorpus]]).
    * Executor-side: ids group by shard (bounded task count), each task
    * unlinks its shard's files. `nShards` must be the count the corpus
    * was WRITTEN with — any other modulus looks for files in the wrong
    * shard dirs and silently deletes nothing.
    *
    * Runs against the published root in place: every delete is a point
    * operation on one file, any prefix of them is a valid corpus, and a
    * re-run finishes the rest — absent ids count out rather than error
    * (idempotent replay). Returns the number of files actually removed.
    */
  def purgeTextCorpus(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String, nShards: Int): Long = {
    require(nShards > 0, "the sharded layout is the purgeable one (nShards > 0)")
    val rootStr = new org.apache.hadoop.fs.Path(path).toString
    val conf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val targets = ids.select(col(idCol).cast("string").as("__id")).na.drop().distinct()
      .select(col("__id"),
        pmod(xxhash64(col("__id")), lit(nShards.toLong)).as("__shard"))
      .repartition(math.min(nShards, 64), col("__shard"))
    val removedPerTask = targets.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val root = new org.apache.hadoop.fs.Path(rootStr)
        val fs = root.getFileSystem(conf.value)
        var n = 0L
        it.foreach { r =>
          val p = new org.apache.hadoop.fs.Path(root,
            s"shard=${r.getLong(1)}/${TextCorpusLayout.fileName(r.getString(0))}")
          if (fs.delete(p, false)) n += 1
        }
        Iterator.single(n)
      }
    }(org.apache.spark.sql.Encoders.scalaLong)
    removedPerTask.toDF("n")
      .agg(coalesce(sum(col("n")), lit(0L))).head().getLong(0)
  }

  /** Bucketed table write: co-locates rows by key so joins and aggregations
    * between tables bucketed on the same key by the same count plan WITHOUT
    * a shuffle — pre-paying the exchange once at write time, the right trade
    * for fact tables joined repeatedly at scale. (Bucketing requires the
    * table catalog, hence saveAsTable rather than a path write.)
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String], numBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** K4 — timestamped write + `latest` alias (reference `s3_service.py:44-61`):
    * the run's output lands under a run-stamped directory and `latest` is
    * atomically repointed (rewritten) at it.
    */
  def writeVersioned(df: DataFrame, baseDir: String, runId: String): (String, String) = {
    writeVersionedStaged(df, baseDir, runId)()
    (s"$baseDir/$runId", s"$baseDir/latest")
  }

  /** Two-phase form of [[writeVersioned]]: the CALL writes the run-stamped
    * directory (a fused gate's observe metrics ride this action); the
    * returned thunk repoints `latest`. A fused-gate pipeline runs its
    * verdict BETWEEN the phases, so a violating run's data exists under its
    * run id (forensics) but `latest` — the alias readers follow — never
    * serves it. This is the sink that makes the fused gate's saved scan
    * free of the bad-data-visible trade.
    */
  def writeVersionedStaged(df: DataFrame, baseDir: String, runId: String): () => Unit = {
    val runPath = s"$baseDir/$runId"
    df.write.mode(SaveMode.ErrorIfExists).parquet(runPath)
    () => {
      val latest = s"$baseDir/latest"
      ParquetRead(df.sparkSession, runPath).write.mode(SaveMode.Overwrite).parquet(latest)
    }
  }

  /** K2 — upsert emulation over parquet (no transactional store in the bench
    * env; SURVEY.md §7.4.4): `ON CONFLICT (keys) DO UPDATE` = keep incoming
    * row on key collision, `DO NOTHING` = keep existing row. Implemented as
    * anti-join + union — both sides shuffle once on the conflict key; small
    * incoming batches broadcast automatically under AQE.
    */
  def upsert(
      existing: DataFrame,
      incoming: DataFrame,
      conflictColumns: Seq[String],
      action: ConflictAction,
      orderBy: Seq[String] = Nil): DataFrame = {
    val keys = conflictColumns
    action match {
      case ConflictUpdate =>
        // incoming wins: drop existing rows whose key collides, then union
        existing.join(incoming.select(keys.map(col): _*).distinct(), keys, "left_anti")
          .unionByName(dedupIncoming(incoming, keys, orderBy))
      case ConflictNothing =>
        // existing wins: only genuinely new keys come in
        existing.unionByName(
          dedupIncoming(incoming, keys, orderBy).join(existing.select(keys.map(col): _*).distinct(), keys, "left_anti"))
    }
  }

  /** Within one incoming batch the reference's INSERT applies rows in order,
    * so the last row per key wins under DO UPDATE. Callers that care about
    * WHICH row wins pass `orderBy` (an ingest sequence / updated-at column):
    * the row with the LARGEST orderBy value per key survives, matching
    * "last in insert order". Without `orderBy` the choice falls back to
    * ordering by all non-key columns desc — deterministic, but an arbitrary
    * proxy for insert order (dataframes carry no row order across a shuffle).
    */
  private def dedupIncoming(incoming: DataFrame, keys: Seq[String], orderBy: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // tiebreak beyond the explicit ordering keeps the result deterministic
    // even when orderBy values collide
    val orderCols: Seq[Column] =
      (orderBy ++ incoming.columns.filterNot(c => keys.contains(c) || orderBy.contains(c))).map(col(_).desc)
    if (orderCols.isEmpty) incoming.distinct()
    else {
      val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols: _*)
      incoming.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
    }
  }

  /** K1 cluster form — plain JDBC append (reference
    * `postgresql_service.py:117-165` COPY loader): `df.write.jdbc` fans the
    * insert out across executors, one connection per partition. Exercised
    * end-to-end against embedded Derby in PipelineSinksSpec.
    */
  def jdbcWrite(df: DataFrame, url: String, table: String, options: Map[String, String] = Map.empty): Unit = {
    val props = new java.util.Properties()
    options.foreach { case (k, v) => props.setProperty(k, v) }
    df.write.mode(SaveMode.Append).jdbc(url, table, props)
  }

  /** K2 cluster form — JDBC upsert via per-partition
    * `INSERT ... ON CONFLICT (keys) DO UPDATE/DO NOTHING` prepared-statement
    * batches (reference `postgresql_service.py:214-296`). Each executor
    * partition opens one connection and flushes every `batchSize` rows —
    * the scale-correct shape (no driver-side row loop, no full-table
    * read-modify-write). The merge itself is the database's: concurrent
    * writers serialize on the unique key, unlike the file-emulation
    * [[upsert]].
    */
  /** SQL-injection-safe identifier: wrap in double quotes, double any
    * embedded quote (config-sourced names must never splice raw into SQL).
    */
  private[graft] def quoteIdent(name: String): String =
    "\"" + name.replace("\"", "\"\"") + "\""

  /** A table reference may be schema-qualified (`schema.table`): quote each
    * dotted part separately so the qualification survives.
    */
  private[graft] def quoteQualified(table: String): String =
    table.split('.').map(quoteIdent).mkString(".")

  /** Upsert SQL dialects. The reference's flagship loader is PostgreSQL
    * `ON CONFLICT` ([[OnConflictDialect]], `postgresql_service.py:214-296`);
    * [[UpdateInsertDialect]] is the portable pair — batched
    * `UPDATE` + `INSERT … WHERE NOT EXISTS` in one transaction — for engines
    * without it (Derby, DB2; Derby's MERGE cannot read a VALUES source, so a
    * MERGE dialect would not cover it anyway). The pair form assumes keys
    * are DISTINCT WITHIN A BATCH (guaranteed by the reference's keep-last
    * pre-collapse, [[upsert]]) and, unlike the native form, two CONCURRENT
    * writers can race the NOT EXISTS probe into a unique-key violation — the
    * primary key still holds; single-writer pipelines are unaffected.
    */
  sealed trait UpsertDialect extends Serializable
  case object OnConflictDialect extends UpsertDialect
  final case class UpdateInsertDialect(dummyTable: String = "SYSIBM.SYSDUMMY1")
      extends UpsertDialect

  /** The upsert statement [[jdbcUpsert]] prepares for
    * [[OnConflictDialect]]. All identifiers are quoted/escaped — table and
    * column names arrive from user config.
    */
  private[graft] def upsertSql(
      table: String,
      cols: Seq[String],
      conflictColumns: Seq[String],
      action: ConflictAction): String = {
    val conflictClause = action match {
      case ConflictNothing => "DO NOTHING"
      case ConflictUpdate =>
        val sets = cols.filterNot(conflictColumns.contains)
          .map(c => s"${quoteIdent(c)} = EXCLUDED.${quoteIdent(c)}").mkString(", ")
        if (sets.isEmpty) "DO NOTHING" else s"DO UPDATE SET $sets"
    }
    s"""INSERT INTO ${quoteQualified(table)} (${cols.map(quoteIdent).mkString(", ")})
       |VALUES (${cols.map(_ => "?").mkString(", ")})
       |ON CONFLICT (${conflictColumns.map(quoteIdent).mkString(", ")}) $conflictClause""".stripMargin
  }

  /** The portable pair's UPDATE half: non-key setters, keyed WHERE. None
    * when every column is a key (nothing to update — DO NOTHING shape).
    */
  private[graft] def updateSql(
      table: String, cols: Seq[String], keys: Seq[String]): Option[String] = {
    val sets = cols.filterNot(keys.contains)
    if (sets.isEmpty) None
    else Some(
      s"UPDATE ${quoteQualified(table)} SET " +
        sets.map(c => s"${quoteIdent(c)} = ?").mkString(", ") +
        " WHERE " + keys.map(k => s"${quoteIdent(k)} = ?").mkString(" AND "))
  }

  /** The portable pair's INSERT half: parameters projected from the 1-row
    * dummy table, guarded by a correlated NOT EXISTS on the keys (the form
    * Derby's planner accepts — a parameterized VALUES derived table is not).
    * Binds: every column, then every key again.
    */
  private[graft] def insertIfAbsentSql(
      table: String, cols: Seq[String], keys: Seq[String], dummyTable: String): String =
    s"INSERT INTO ${quoteQualified(table)} (${cols.map(quoteIdent).mkString(", ")}) " +
      s"SELECT ${cols.map(_ => "?").mkString(", ")} FROM ${quoteQualified(dummyTable)} " +
      s"WHERE NOT EXISTS (SELECT 1 FROM ${quoteQualified(table)} WHERE " +
      keys.map(k => s"${quoteIdent(k)} = ?").mkString(" AND ") + ")"

  def jdbcUpsert(
      df: DataFrame,
      url: String,
      table: String,
      conflictColumns: Seq[String],
      action: ConflictAction,
      options: Map[String, String] = Map.empty,
      batchSize: Int = 1000,
      dialect: UpsertDialect = OnConflictDialect): Unit = {
    val cols = df.columns.toSeq
    val keyIdx = conflictColumns.map(cols.indexOf)
    require(keyIdx.forall(_ >= 0),
      s"conflict columns ${conflictColumns.filterNot(cols.contains)} absent from the frame")
    val opts = options // serialize the map, not the Properties
    def connect(): java.sql.Connection = {
      val props = new java.util.Properties()
      opts.foreach { case (k, v) => props.setProperty(k, v) }
      val c = java.sql.DriverManager.getConnection(url, props)
      c.setAutoCommit(false)
      c
    }
    dialect match {
      case OnConflictDialect =>
        val sql = upsertSql(table, cols, conflictColumns, action)
        df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          val conn = connect()
          try {
            val stmt = conn.prepareStatement(sql)
            try {
              var pending = 0
              rows.foreach { row =>
                var i = 0
                while (i < cols.length) { stmt.setObject(i + 1, row.get(i)); i += 1 }
                stmt.addBatch()
                pending += 1
                if (pending >= batchSize) { stmt.executeBatch(); pending = 0 }
              }
              if (pending > 0) stmt.executeBatch()
              conn.commit()
            } finally stmt.close()
          } finally conn.close()
        }
      case UpdateInsertDialect(dummy) =>
        val updSqlOpt = action match {
          case ConflictUpdate => updateSql(table, cols, conflictColumns)
          case ConflictNothing => None
        }
        val insSql = insertIfAbsentSql(table, cols, conflictColumns, dummy)
        val setIdx = cols.indices.filterNot(i => conflictColumns.contains(cols(i)))
        val kIdx = keyIdx
        df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          val conn = connect()
          try {
            val upd = updSqlOpt.map(conn.prepareStatement)
            val ins = conn.prepareStatement(insSql)
            try {
              var pending = 0
              def flush(): Unit = {
                // update-then-insert: existing keys take the UPDATE, the
                // rest pass NOT EXISTS into the INSERT
                upd.foreach(_.executeBatch())
                ins.executeBatch()
                pending = 0
              }
              rows.foreach { row =>
                upd.foreach { u =>
                  var p = 1
                  setIdx.foreach { i => u.setObject(p, row.get(i)); p += 1 }
                  kIdx.foreach { i => u.setObject(p, row.get(i)); p += 1 }
                  u.addBatch()
                }
                var p = 1
                cols.indices.foreach { i => ins.setObject(p, row.get(i)); p += 1 }
                kIdx.foreach { i => ins.setObject(p, row.get(i)); p += 1 }
                ins.addBatch()
                pending += 1
                if (pending >= batchSize) flush()
              }
              if (pending > 0) flush()
              conn.commit()
            } finally { upd.foreach(_.close()); ins.close() }
          } finally conn.close()
        }
    }
  }

  /** K6 — checkpoint/metadata write (reference
    * `internal_raw_to_dwh/standard_pipeline.py:117-124`): one row per run,
    * stamped with a run-scoped current-time value (F8 — evaluated once on the
    * driver, not per executor row, matching the reference's single INSERT).
    * Written only after the data action succeeds; a skipped run (missing
    * source) never calls this, so the watermark cannot advance past
    * unprocessed data.
    */
  def writeCheckpoint(
      spark: SparkSession,
      path: String,
      runValues: Map[String, String]): Unit = {
    import spark.implicits._
    val now = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .format(java.time.LocalDateTime.now(java.time.ZoneOffset.UTC))
    val row = (runValues + ("current_time" -> now)).toSeq.sortBy(_._1)
    val df = Seq(row.map(_._2)).toDF("values")
      .select(row.map(_._1).zipWithIndex.map { case (name, i) => col("values")(i).as(name) }: _*)
    df.write.mode(SaveMode.Append).parquet(path)
  }
}
