package graft.pipeline

import graft.operators.Ops
import graft.sinks.Sinks
import graft.sources.{ParquetRead, Sources}
import graft.types._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** JSON-driven pipeline construction — the engine's analog of the
  * reference's config-driven entrypoint (X4/X5: sectioned kwargs at
  * `internal_raw_to_dwh/standard_pipeline.py:44-57`, JSON CLI dispatch gated
  * by `__all__` at `scripts/runs/internal_raw_to_dwh.py:44-57`). A config
  * document declares source, declarative query, enrichment, dedup, sink and
  * checkpoint; the interpreter assembles ONE lazy [[Pipeline]] plan from it.
  *
  * Sinks resolve by name from [[sinkRegistry]] — the K3 strategy-by-name
  * semantics (`postgresql_service.py:92-115`), including the hard failure on
  * names outside the registry.
  */
object PipelineConfig {

  private implicit val formats: Formats = DefaultFormats

  /** K3 — named sink strategies. `options` carries per-sink settings. The
    * jdbc entries are the cluster deploy's loaders (reference
    * `postgresql_service.py`); the file strategies serve the bench env.
    */
  /** Required sink option, as a typed config error rather than a bare
    * NoSuchElementException surfacing mid-run at sink time.
    */
  private def req(o: Map[String, String], key: String, sink: String): String =
    o.getOrElse(key, throw new graft.GraftConfigError(
      s"Sink '$sink' requires option '$key' (got: ${o.keys.mkString(", ")})"))

  val sinkRegistry: Map[String, (DataFrame, Map[String, String]) => Unit] = Map(
    "parquet" -> ((df, o) => Sinks.writeParquet(df, req(o, "path", "parquet"))),
    "tsv" -> ((df, o) => Sinks.writeTsv(df, req(o, "path", "tsv"))),
    "json" -> ((df, o) => Sinks.writeJson(df, req(o, "path", "json"))),
    "orc" -> ((df, o) => Sinks.writeOrc(df, req(o, "path", "orc"))),
    "versioned" -> ((df, o) => {
      Sinks.writeVersioned(df, req(o, "path", "versioned"), req(o, "runId", "versioned")); ()
    }),
    "graft_table" -> ((df, o) => {
      // the zone-mapped connector table as a declared sink: a staged-commit
      // append (crash-safe manifest, zone-map sidecar, commit-log
      // membership — graft.sources.v2.GraftParquetSource), optionally
      // carrying an exactly-once commitMarker and an inline post-write
      // OPTIMIZE (clusterBy = comma-separated keys) so a scheduled
      // pipeline's small-file tail bin-packs as part of the run
      val path = req(o, "path", "graft_table")
      val marker = o.get("commitMarker").filter(_.nonEmpty)
      // commitMarker is the dedup KEY, not just a receipt: a re-run of the
      // same declared pipeline (scheduler retry after a crash between the
      // commit and the scheduler's own bookkeeping) must skip, not append
      // twice — the TableIngest.ingestBatch discipline
      val skip = marker.exists { m =>
        val table = new org.apache.hadoop.fs.Path(path)
        val fs = table.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
        // heal (complete published commits — may hold this very marker),
        // never the full recover sweep: a concurrent appender mid-stage is
        // legal under the commit log's optimistic concurrency, and the
        // sweep would kill its batch
        if (fs.exists(table)) graft.sources.v2.GraftParquetWrite.healPublished(fs, table)
        graft.sources.v2.GraftParquetWrite.markerExists(fs, table, m)
      }
      if (!skip) {
        val w = df.write.format("graft-parquet").mode("append")
        marker.fold(w)(m => w.option("graft.commitMarker", m)).save(path)
      }
      // OPTIMIZE runs OUTSIDE the dedup skip: it is idempotent maintenance,
      // and a crash between the append commit and the optimize would
      // otherwise leave the small-file tail un-packed on every retry.
      // Default log retention applies, so AS-OF handles issued against
      // this table SURVIVE routine scheduled runs instead of being retired
      // by every fold — snapshots die only past the retention horizon.
      o.get("clusterBy").filter(_.nonEmpty).foreach { keys =>
        graft.sources.v2.GraftTableOptimize.optimize(df.sparkSession, path,
          clusterBy = keys.split(",").map(_.trim).toSeq): Unit
      }
      // vacuum runs on EVERY declared run, not just clustered ones: the
      // write path no longer sweeps unmanifested crash staging (it may be
      // a live concurrent appender's), so without this age-gated sweep a
      // crash-looping scheduled pipeline would leak a staged copy of its
      // batch per crash forever. Default 24h grace protects anything
      // recent; retained AS-OF history is never touched.
      graft.sources.v2.GraftTableOptimize.vacuum(df.sparkSession, path): Unit
    }),
    "jdbc" -> ((df, o) =>
      Sinks.jdbcWrite(df, req(o, "url", "jdbc"), req(o, "table", "jdbc"), o - "url" - "table")),
    "jdbc_upsert" -> ((df, o) =>
      Sinks.jdbcUpsert(df, req(o, "url", "jdbc_upsert"), req(o, "table", "jdbc_upsert"),
        conflictColumns = req(o, "keys", "jdbc_upsert").split(",").map(_.trim).toSeq,
        action = o.getOrElse("onConflict", "update") match {
          case "nothing" => ConflictNothing
          case "update" => ConflictUpdate
          case other => throw new graft.GraftConfigError(
            s"Unknown onConflict '$other' (expected update|nothing)")
        },
        // batchSize/dialect are OUR knobs, not JDBC connection properties —
        // parse them out (typed error on junk) so they can't silently leak
        // into the connection properties map
        options = o - "url" - "table" - "keys" - "onConflict" - "batchSize" - "dialect",
        batchSize = o.get("batchSize").map { s =>
          try s.toInt catch {
            case _: NumberFormatException => throw new graft.GraftConfigError(
              s"jdbc_upsert batchSize must be an integer (got '$s')")
          }
        }.getOrElse(1000),
        dialect = o.getOrElse("dialect", "on_conflict") match {
          case "on_conflict" => Sinks.OnConflictDialect
          case "update_insert" => Sinks.UpdateInsertDialect()
          case other => throw new graft.GraftConfigError(
            s"Unknown jdbc_upsert dialect '$other' (expected on_conflict|update_insert)")
        })))

  def sink(name: String): (DataFrame, Map[String, String]) => Unit =
    sinkRegistry.getOrElse(name, throw new graft.GraftConfigError(
      s"Sink '$name' is not in the registry: ${sinkRegistry.keys.mkString(", ")}"))

  private val tsPattern =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** F9 — timestamp-format gate at config-parse time (reference
    * `elasticsearch_to_postgresql.py:72-76`, `appsflyer_to_aws_s3.py:40-43`
    * validate run args BEFORE building the pipeline): a malformed bound is a
    * config error now, not an ANSI cast crash mid-run.
    */
  def validateTimestamp(label: String, value: Option[String]): Unit = value.foreach { s =>
    try java.time.LocalDateTime.parse(s, tsPattern)
    catch {
      case e: java.time.format.DateTimeParseException =>
        throw new graft.GraftConfigError(
          s"Invalid timestamp for '$label': '$s' (expected yyyy-MM-dd HH:mm:ss)", e)
    }
  }

  def fromJson(spark: SparkSession, json: String): Pipeline = {
    val cfg = JsonMethods.parse(json)

    val sourceCfg = cfg \ "source"
    val source: Sources.Source = (sourceCfg \ "type").extract[String] match {
      case "parquet" => Sources.ParquetSource((sourceCfg \ "path").extract[String])
      case "csv" =>
        Sources.CsvSource(
          (sourceCfg \ "path").extract[String],
          renames = (sourceCfg \ "renames").extractOrElse[Map[String, String]](Map.empty),
          types = (sourceCfg \ "types").extractOrElse[Map[String, String]](Map.empty).toSeq
            .map { case (c, t) => TypeSpec(c, t) })
      case "jsonlines" => Sources.JsonLinesSource((sourceCfg \ "path").extract[String])
      // the connector table as a declared source; optional asOfSeq pins the
      // read to a commit-log snapshot (reproducible-corpus replays)
      case "graft_table" => Sources.GraftTableSource(
        (sourceCfg \ "path").extract[String],
        (sourceCfg \ "asOfSeq").extractOpt[Long])
      case "view" => Sources.ViewSource((sourceCfg \ "name").extract[String])
      case other => throw new graft.GraftConfigError(s"Unknown source type: $other")
    }

    val transforms = Seq.newBuilder[DataFrame => DataFrame]

    (cfg \ "query") match {
      case JNothing => ()
      case q =>
        validateTimestamp("query.start", (q \ "start").extractOpt[String])
        validateTimestamp("query.end", (q \ "end").extractOpt[String])
        transforms += Ops.query(QuerySpec(
          rangeField = (q \ "rangeField").extractOpt[String],
          start = (q \ "start").extractOpt[String],
          end = (q \ "end").extractOpt[String],
          filters = (q \ "filters").extractOrElse[Map[String, String]](Map.empty).toSeq,
          sourceFields = (q \ "sourceFields").extractOpt[Seq[String]],
          sortBy = (q \ "sortBy").extractOrElse[Seq[Seq[String]]](Nil)
            .map {
              case Seq() => throw new graft.GraftConfigError(
                "query.sortBy entries must be [field] or [field, asc|desc]")
              case p =>
                val asc = p.lift(1).map(_.toLowerCase) match {
                  case None | Some("asc") => true
                  case Some("desc") => false
                  case Some(other) => throw new graft.GraftConfigError(
                    s"query.sortBy direction '$other' (expected asc|desc)")
                }
                (p.head, asc)
            }))
    }

    (cfg \ "constants") match {
      case JNothing => ()
      case c => transforms += Ops.enrichConst(c.extract[Map[String, String]].toSeq)
    }

    (cfg \ "additionalFields") match {
      case JNothing => ()
      case af =>
        af.extract[Seq[JValue]].foreach { f =>
          transforms += Ops.enrichFn(FnField(
            fn = (f \ "fn").extract[String],
            inputMapping = (f \ "inputMapping").extractOrElse[Map[String, String]](Map.empty),
            staticArgs = (f \ "staticArgs").extractOrElse[Map[String, String]](Map.empty),
            outputMapping = (f \ "outputMapping").extract[Map[String, String]]))
        }
    }

    // model-quality gates as declared steps, BEFORE dedup: each gate is a
    // semi-join against a score computed from the frame itself
    // (classifierScore / bigramLmScore — both full-corpus passes over the
    // engine's canonical (doc_id, text) schema). `materialize: true`
    // checkpoints the gated survivors — the right call whenever a
    // downstream stage consumes its input more than once (segment dedup's
    // resolution join, packing after a re-join): without it every consumer
    // re-executes the gates, full-corpus scans at 100 TB.
    (cfg \ "gates") match {
      case JNothing => ()
      case g =>
        (g \ "classifierMinMargin").extractOpt[Double].foreach { m =>
          transforms += ((df: DataFrame) => df.join(
            graft.operators.TextAnalysis.classifierScore(df)
              .filter(org.apache.spark.sql.functions.col("margin") > m)
              .select("doc_id"),
            Seq("doc_id"), "left_semi"))
        }
        (g \ "lmMinAvgBigramP").extractOpt[Double].foreach { m =>
          transforms += ((df: DataFrame) => df.join(
            graft.operators.TextAnalysis.bigramLmScore(df)
              .filter(org.apache.spark.sql.functions.col("avg_bigram_p") >= m)
              .select("doc_id"),
            Seq("doc_id"), "left_semi"))
        }
        if ((g \ "materialize").extractOrElse[Boolean](false))
          transforms += ((df: DataFrame) => graft.Checkpointing.materialize(df))
    }

    // scrub/pseudonymize phase: both default to AFTER dedup (digest-based
    // dedup must see the original bytes — scrubbing first would collide
    // docs differing only in PII, and tokens must not feed the digests),
    // but a SEGMENT-dedup pipeline legitimately scrubs first (redacted
    // boilerplate dedups away with everything else), declared per-section
    // with `"phase": "beforeDedup"`.
    def phaseOf(section: JValue, label: String): String =
      (section \ "phase").extractOrElse[String]("afterDedup") match {
        case p @ ("beforeDedup" | "afterDedup") => p
        case other => throw new graft.GraftConfigError(
          s"$label.phase must be beforeDedup|afterDedup, got '$other'")
      }
    val scrubStep: Option[(String, DataFrame => DataFrame)] = (cfg \ "scrub") match {
      case JNothing => None
      case sc =>
        val textCol = (sc \ "textCol").extractOpt[String].getOrElse(
          throw new graft.GraftConfigError("scrub section needs 'textCol'"))
        val replacement = (sc \ "replacement").extractOrElse[String]("[PII]")
        Some(phaseOf(sc, "scrub") -> ((df: DataFrame) =>
          graft.operators.TextAnalysis.piiScrub(df, textCol, replacement)))
    }
    val pseudoStep: Option[(String, DataFrame => DataFrame)] = (cfg \ "pseudonymize") match {
      case JNothing => None
      case pc =>
        val cols = (pc \ "cols").extractOpt[Seq[String]].filter(_.nonEmpty).getOrElse(
          throw new graft.GraftConfigError("pseudonymize section needs non-empty 'cols'"))
        val salt = (pc \ "salt").extractOpt[String].filter(_.nonEmpty).getOrElse(
          throw new graft.GraftConfigError("pseudonymize section needs a non-empty 'salt'"))
        Some(phaseOf(pc, "pseudonymize") -> ((df: DataFrame) =>
          graft.operators.TextAnalysis.pseudonymize(df, cols, salt)))
    }
    Seq(scrubStep, pseudoStep).flatten.collect {
      case ("beforeDedup", fn) => transforms += fn
    }

    (cfg \ "dedup") match {
      case JNothing => ()
      case d =>
        // strategy-by-name, like the sink registry: the reference's
        // keep-first (W1) plus the engine's large-scale dedup family,
        // selectable from config
        // required fields extract EAGERLY so a misconfigured dedup section
        // fails at parse time, not mid-run inside the transform lambda
        def field(name: String): String = (d \ name).extractOpt[String].getOrElse(
          throw new graft.GraftConfigError(s"dedup section requires '$name' for this strategy"))
        transforms += ((d \ "strategy").extractOrElse[String]("keepFirst") match {
          case "keepFirst" =>
            Ops.dedupKeepFirst(DedupSpec(
              dedupBy = (d \ "by").extract[Seq[String]],
              orderBy = (d \ "orderBy").extractOrElse[Seq[String]](Nil)))
          case "exact" =>
            val (id, cols) = (field("id"), (d \ "contentColumns").extract[Seq[String]])
            (df: DataFrame) => graft.operators.Dedup.exact(df, id, cols)
          case "minhash" =>
            val (id, text) = (field("id"), field("text"))
            (df: DataFrame) => graft.operators.Dedup.minhashLsh(df, id, text)
          case "simhash" =>
            val (id, text) = (field("id"), field("text"))
            (df: DataFrame) => graft.operators.Dedup.simhash(df, id, text)
          case "ngram_jaccard" =>
            val (id, text) = (field("id"), field("text"))
            val threshold = (d \ "threshold").extractOrElse[Double](0.8)
            (df: DataFrame) => graft.operators.Dedup.ngramJaccard(df, id, text, threshold = threshold)
          case "segment" =>
            val (id, text) = (field("id"), field("text"))
            val segTokens = (d \ "segTokens").extractOrElse[Int](10)
            val carry = (d \ "carry").extractOrElse[Seq[String]](Nil)
            (df: DataFrame) =>
              graft.operators.Dedup.segmentDedup(df, id, text, segTokens, carry)
          case other => throw new graft.GraftConfigError(
            s"Unknown dedup strategy '$other' (expected keepFirst|exact|minhash|simhash|ngram_jaccard|segment)")
        })
    }

    // the default-phase (afterDedup) PII steps land here — see the phase
    // note above the dedup section
    Seq(scrubStep, pseudoStep).flatten.collect {
      case ("afterDedup", fn) => transforms += fn
    }

    // release-side k-anonymity suppression as a declared step (always after
    // dedup and the PII steps: suppression reasons about the RELEASED
    // quasi-identifier values): the surviving frame is k-anonymous on the
    // declared QI set by construction — one window-count shuffle, see
    // [[graft.operators.Anonymity.suppressBelowK]]
    (cfg \ "kAnonymity") match {
      case JNothing => ()
      case ka =>
        val quasi = (ka \ "quasiCols").extractOpt[Seq[String]].filter(_.nonEmpty).getOrElse(
          throw new graft.GraftConfigError("kAnonymity section needs non-empty 'quasiCols'"))
        val k = (ka \ "k").extractOpt[Int].getOrElse(
          throw new graft.GraftConfigError("kAnonymity section needs integer 'k'"))
        if (k < 1) throw new graft.GraftConfigError(
          s"kAnonymity.k must be >= 1, got $k")
        transforms += ((df: DataFrame) =>
          graft.operators.Anonymity.suppressBelowK(df, quasi, k))
    }

    // --- seeded ε-DP releases as declared steps (beside kAnonymity —
    // suppression bounds linkage, the noisy releases bound inference).
    // Each replaces the frame with its classes-sized noisy table
    // ([[graft.operators.Privacy]].dpCensus / dpSum / dpMedian /
    // dpQuantile). Sections apply in the order census → sum → median →
    // quantile; a later step over an earlier release is DP post-processing
    // (e.g. a coarse dpSum of fine noisy counts) and costs no extra ε on
    // the raw data. Shared
    // contract, enforced at PARSE time so a broken release never runs:
    // `classId` must parse and reference only quasiCols (noise must be a
    // function of the released class alone — an out-of-class reference
    // would otherwise key the noise on a data column); `salt` is the
    // release secret and must be UNIQUE across the config's DP steps —
    // two releases sharing (classId, salt) share their noise draws, the
    // correlation [[graft.operators.Privacy.seededUniform]] warns about,
    // here a typed error instead of a Scaladoc caveat.
    val dpSaltsSeen = scala.collection.mutable.HashMap.empty[Long, String]
    // the ε accountant: every declared DP step records the ε it pays, and a
    // declared `privacyBudget.epsilonMax` caps the SUM at parse time —
    // worst-case sequential composition (Dwork-Roth Thm 3.16; summing is an
    // upper bound here since a later step over an earlier release is
    // post-processing and pays nothing on the raw data). The gate makes the
    // total privacy cost of a config a declaration the parser enforces, not
    // an audit someone runs later.
    val dpEpsSpent = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def parseDpCommon(dp: JValue, label: String, epsNote: String)
        : (Seq[String], String, Long, Int) = {
      val quasi = (dp \ "quasiCols").extractOpt[Seq[String]].filter(_.nonEmpty).getOrElse(
        throw new graft.GraftConfigError(s"$label section needs non-empty 'quasiCols'"))
      val classId = (dp \ "classId").extractOpt[String].getOrElse(
        throw new graft.GraftConfigError(
          s"$label section needs 'classId' (a LONG expression over quasiCols, " +
            "injective across classes)"))
      val refs =
        try spark.sessionState.sqlParser.parseExpression(classId).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
        } catch {
          case e: org.apache.spark.sql.catalyst.parser.ParseException =>
            throw new graft.GraftConfigError(
              s"$label.classId does not parse as an expression: ${e.getMessage}")
        }
      val quasiLower = quasi.map(_.toLowerCase).toSet
      val outside = refs.filterNot(r => quasiLower.contains(r.toLowerCase)).distinct
      if (outside.nonEmpty) throw new graft.GraftConfigError(
        s"$label.classId references ${outside.mkString(", ")} outside quasiCols — " +
          "noise must be a function of the released class alone")
      val salt = (dp \ "salt").extractOpt[Long].getOrElse(
        throw new graft.GraftConfigError(s"$label section needs integer 'salt'"))
      dpSaltsSeen.put(salt, label).foreach(prev => throw new graft.GraftConfigError(
        s"$label.salt duplicates $prev.salt ($salt): two DP releases sharing a " +
          "salt share their noise draws — a correlation the parallel-composition " +
          "argument does not cover; give every release its own salt"))
      val j = (dp \ "j").extractOrElse[Int](1)
      if (j < 1) throw new graft.GraftConfigError(
        s"$label.j must be >= 1 (epsilon = $epsNote), got $j")
      (quasi, classId, salt, j)
    }
    def dpStr(dp: JValue, label: String, name: String): String =
      (dp \ name).extractOpt[String].filter(_.nonEmpty).getOrElse(
        throw new graft.GraftConfigError(s"$label section needs non-empty '$name'"))
    def dpNum(dp: JValue, label: String, name: String): Double =
      (dp \ name).extractOpt[Double].getOrElse(
        throw new graft.GraftConfigError(s"$label section needs numeric '$name'"))
    // the shared grid contract of the exponential-mechanism steps: the
    // data-independent [lo, hi) × bins candidate grid is config, never
    // inferred from the data (grid choice is part of the privacy statement)
    def dpGrid(dp: JValue, label: String): (Double, Double, Int) = {
      val lo = dpNum(dp, label, "lo")
      val hi = dpNum(dp, label, "hi")
      if (!(lo < hi)) throw new graft.GraftConfigError(
        s"$label needs lo < hi, got [$lo, $hi)")
      val bins = (dp \ "bins").extractOpt[Int].getOrElse(
        throw new graft.GraftConfigError(s"$label section needs integer 'bins'"))
      if (bins < 2 || bins > 4096) throw new graft.GraftConfigError(
        s"$label.bins must be in [2, 4096], got $bins")
      (lo, hi, bins)
    }

    (cfg \ "dpCensus") match {
      case JNothing => ()
      case dp =>
        val (quasi, classId, salt, j) = parseDpCommon(dp, "dpCensus", "j*ln2")
        dpEpsSpent += (("dpCensus", j * math.log(2.0)))
        transforms += ((df: DataFrame) =>
          graft.operators.Privacy.dpCensus(df, quasi,
            org.apache.spark.sql.functions.expr(classId), salt, j))
    }

    // the ε-DP sum release: clip to [0, clipHi], per-row quantize by
    // `unit`, bucket the class sum by floor(clipHi/unit) — the full
    // sensitivity story lives on [[graft.operators.Privacy.dpSum]];
    // clip/unit sanity is a parse-time gate here, not a mid-run require
    (cfg \ "dpSum") match {
      case JNothing => ()
      case dp =>
        val (quasi, classId, salt, j) = parseDpCommon(dp, "dpSum", "j*ln2")
        val valueCol = dpStr(dp, "dpSum", "valueCol")
        val clipHi = dpNum(dp, "dpSum", "clipHi")
        val unit = (dp \ "unit").extractOrElse[Double](1.0)
        if (!(clipHi > 0 && unit > 0 && unit <= clipHi))
          throw new graft.GraftConfigError(
            s"dpSum needs 0 < unit <= clipHi, got unit=$unit clipHi=$clipHi")
        dpEpsSpent += (("dpSum", j * math.log(2.0)))
        transforms += ((df: DataFrame) =>
          graft.operators.Privacy.dpSum(df, quasi, valueCol, clipHi,
            org.apache.spark.sql.functions.expr(classId), salt, j, unit))
    }

    // the ε-DP median release: exponential mechanism over a declared
    // data-independent grid [lo, hi) × bins — the grid is part of the
    // privacy statement, so it is config, never inferred from the data
    (cfg \ "dpMedian") match {
      case JNothing => ()
      case dp =>
        val (quasi, classId, salt, j) = parseDpCommon(dp, "dpMedian", "2*j*ln2")
        val valueCol = dpStr(dp, "dpMedian", "valueCol")
        val (lo, hi, bins) = dpGrid(dp, "dpMedian")
        dpEpsSpent += (("dpMedian", 2.0 * j * math.log(2.0)))
        transforms += ((df: DataFrame) =>
          graft.operators.Privacy.dpMedian(df, quasi, valueCol, lo, hi, bins,
            org.apache.spark.sql.functions.expr(classId), salt, j))
    }

    // the ε-DP quantile release at declared rational q = a/b — dpMedian's
    // generalization; a and b are config so the ε actually paid
    // (2·max(a, b−a)·j·ln2) is visible in the declaration, and the
    // lowest-terms gate fires at parse, not mid-run
    (cfg \ "dpQuantile") match {
      case JNothing => ()
      case dp =>
        val (quasi, classId, salt, j) = parseDpCommon(dp, "dpQuantile",
          "2*max(a,b-a)*j*ln2")
        val valueCol = dpStr(dp, "dpQuantile", "valueCol")
        val a = (dp \ "a").extractOpt[Int].getOrElse(
          throw new graft.GraftConfigError("dpQuantile section needs integer 'a'"))
        val b = (dp \ "b").extractOpt[Int].getOrElse(
          throw new graft.GraftConfigError("dpQuantile section needs integer 'b'"))
        if (!(a >= 1 && b >= 2 && a < b)) throw new graft.GraftConfigError(
          s"dpQuantile needs 1 <= a < b (q = a/b in (0,1)), got $a/$b")
        if (BigInt(a).gcd(BigInt(b)) != 1) throw new graft.GraftConfigError(
          s"dpQuantile.q must be in lowest terms (a common factor scales " +
            s"epsilon silently), got $a/$b")
        val (lo, hi, bins) = dpGrid(dp, "dpQuantile")
        dpEpsSpent += (("dpQuantile", 2.0 * math.max(a, b - a) * j * math.log(2.0)))
        transforms += ((df: DataFrame) =>
          graft.operators.Privacy.dpQuantile(df, quasi, valueCol, a, b, lo, hi,
            bins, org.apache.spark.sql.functions.expr(classId), salt, j))
    }

    // the budget gate itself — after every DP section has recorded its ε
    (cfg \ "privacyBudget") match {
      case JNothing => ()
      case pb =>
        val epsMax = (pb \ "epsilonMax").extractOpt[Double].getOrElse(
          throw new graft.GraftConfigError(
            "privacyBudget section needs numeric 'epsilonMax'"))
        if (!(epsMax > 0)) throw new graft.GraftConfigError(
          s"privacyBudget.epsilonMax must be > 0, got $epsMax")
        val spent = dpEpsSpent.map(_._2).sum
        // 1e-9 slack: a user stating the budget as a rounded decimal of
        // k*ln2 must not be rejected over float summation order
        if (spent - epsMax > 1e-9) throw new graft.GraftConfigError(
          s"privacy budget exceeded: declared DP steps pay epsilon = $spent " +
            s"(${dpEpsSpent.map { case (n, e) => f"$n=$e%.4f" }.mkString(" + ")}) " +
            s"under sequential composition, but privacyBudget.epsilonMax = $epsMax; " +
            "raise the budget, lower a step's j, or drop a release")
    }

    // greedy sequence packing as the terminal reshape ([[operators.Packing
    // .packGreedy]]): groups by `group`, packs documents (ordered by id)
    // into budget-bounded bins of `tokensFrom` token counts. Output schema
    // is (group, id, n_tokens, bin_id) renamed back to the declared names.
    (cfg \ "packing") match {
      case JNothing => ()
      case pk =>
        def pfield(name: String): String = (pk \ name).extractOpt[String].getOrElse(
          throw new graft.GraftConfigError(s"packing section needs '$name'"))
        val (group, id, tokensFrom) = (pfield("group"), pfield("id"), pfield("tokensFrom"))
        val budget = (pk \ "budget").extractOpt[Long].getOrElse(
          throw new graft.GraftConfigError("packing section needs 'budget'"))
        transforms += ((df: DataFrame) =>
          graft.operators.Packing.packGreedy(df, group, id,
            graft.operators.TextAnalysis.tokenCount(
              org.apache.spark.sql.functions.col(tokensFrom)), budget)
            .withColumnsRenamed(Map("group" -> group, "id" -> id)))
    }

    val sinkSection: Option[(String, Map[String, String])] = (cfg \ "sink") match {
      case JNothing => None
      case sc => Some((
        (sc \ "type").extract[String],
        (sc \ "options").extractOrElse[Map[String, String]](Map.empty)))
    }

    val checkpointFn: Option[() => Unit] = (cfg \ "checkpoint") match {
      case JNothing => None
      case cc =>
        val path = (cc \ "path").extract[String]
        val values = (cc \ "values").extractOrElse[Map[String, String]](Map.empty)
        Some(() => Sinks.writeCheckpoint(spark, path, values))
    }

    // expectations gate — the reference's data warnings as a RUN gate:
    // every check is an SQL expression counted in ONE pass over the
    // assembled plan (DataChecks.expectationReport); `fail` vetoes the sink
    // and the checkpoint with GraftDataError, `warn` logs and proceeds.
    // `scan` picks WHICH pass pays for the counting: "pre" (default,
    // reference posture — its own aggregation job before the sink, bad
    // data never lands) or "fused" (Dataset.observe metrics collected by
    // the sink's own action — zero extra scans per run; the verdict
    // arrives after the sink but still before the checkpoint). Parse
    // eagerly: an empty check list, a bad mode, or an unparseable
    // expression is a config error NOW, not a surprise mid-run.
    // shared enum parsing for the gated sections — one place defines what
    // `mode` and `scan` accept, so the two gates can never diverge
    def parseChoice(section: JValue, field: String, default: String,
        label: String, choices: Seq[String]): String =
      (section \ field).extractOrElse[String](default) match {
        case c if choices.contains(c) => c
        case other => throw new graft.GraftConfigError(
          s"$label.$field '$other' (expected ${choices.mkString("|")})")
      }
    def parseFailMode(section: JValue, label: String): Boolean =
      parseChoice(section, "mode", "fail", label, Seq("fail", "warn")) == "fail"
    def parseFusedScan(section: JValue, label: String): Boolean =
      parseChoice(section, "scan", "pre", label, Seq("pre", "fused")) == "fused"
    val expectSection: Option[(Boolean, Boolean,
        Seq[graft.operators.DataChecks.Expectation])] = (cfg \ "expectations") match {
      case JNothing => None
      case ec =>
        val failMode = parseFailMode(ec, "expectations")
        val fusedScan = parseFusedScan(ec, "expectations")
        val checks = (ec \ "checks").extractOrElse[Seq[JValue]](Nil).map { c =>
          val name = (c \ "name").extractOpt[String].getOrElse(
            throw new graft.GraftConfigError("each expectation needs a 'name'"))
          val exprStr = (c \ "expr").extractOpt[String].getOrElse(
            throw new graft.GraftConfigError(s"expectation '$name' needs an 'expr'"))
          // functions.expr defers parsing to resolution time (Spark 4's
          // Column nodes are lazy) — validate through the session parser
          // NOW so a typo is a parse-time config error
          try spark.sessionState.sqlParser.parseExpression(exprStr)
          catch {
            case e: Exception => throw new graft.GraftConfigError(
              s"expectation '$name' has an unparseable expr '$exprStr'", e)
          }
          graft.operators.DataChecks.Expectation(
            name, org.apache.spark.sql.functions.expr(exprStr))
        }
        if (checks.isEmpty) throw new graft.GraftConfigError(
          "expectations section needs a non-empty 'checks' list")
        Some((failMode, fusedScan, checks))
    }
    def verdict(failMode: Boolean, failed: Seq[(String, Long, Long)]): Unit =
      if (failed.nonEmpty) {
        val msg = failed.map { case (n, v, t) => s"$n: $v of $t rows violate" }
          .mkString("; ")
        if (failMode) throw new graft.GraftDataError(s"expectations failed: $msg")
        else Pipeline.log.warn(s"[expectations] $msg")
      }
    val gateFn: Option[DataFrame => Unit] = expectSection.collect {
      case (failMode, false, checks) => df =>
        val failed = graft.operators.DataChecks.expectationReport(df, checks)
          .filter(org.apache.spark.sql.functions.col("passed") === 0L)
          .collect() // |checks| rows at most — never data-sized
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
        verdict(failMode, failed)
    }
    val observedFn: Option[DataFrame => (DataFrame, () => Unit)] =
      expectSection.collect {
        case (failMode, true, checks) => df =>
          val (instrumented, results) =
            graft.operators.DataChecks.observedExpectations(df, checks)
          (instrumented, () => verdict(failMode, results().filter(_._2 > 0L)))
      }
    // drift gate — distribution drift vs a reference snapshot as a RUN
    // gate (DataChecks.distributionDrift): a crawl slice whose bucket mix
    // moved more than `maxTvd` of total-variation distance from the
    // reference vetoes the sink (`fail`) or logs (`warn`). Empty input
    // skips the check — no distribution to judge, and a drift gate must
    // not page on an idle source. Same eager-parse posture as
    // expectations: a bad mode, a missing field, an out-of-range bound or
    // an unparseable bucket expression is a config error NOW. `scan`
    // mirrors expectations.scan: "pre" (default — its own pass over the
    // input before the sink) or "fused" (per-reference-bucket observe
    // counters ride the sink's action; only the |buckets|-row reference
    // census is read eagerly).
    val driftSection: Option[(Boolean, Boolean, String, String, Double)] =
      (cfg \ "drift") match {
        case JNothing => None
        case dc =>
          val refPath = (dc \ "referencePath").extractOpt[String].getOrElse(
            throw new graft.GraftConfigError("drift section needs 'referencePath'"))
          val bucketStr = (dc \ "bucketExpr").extractOpt[String].getOrElse(
            throw new graft.GraftConfigError("drift section needs 'bucketExpr'"))
          try spark.sessionState.sqlParser.parseExpression(bucketStr)
          catch {
            case e: Exception => throw new graft.GraftConfigError(
              s"drift has an unparseable bucketExpr '$bucketStr'", e)
          }
          val maxTvd = (dc \ "maxTvd").extractOpt[Double].getOrElse(
            throw new graft.GraftConfigError("drift section needs 'maxTvd'"))
          if (maxTvd < 0.0 || maxTvd > 1.0) throw new graft.GraftConfigError(
            s"drift.maxTvd must be in [0, 1] (got $maxTvd)")
          Some((parseFailMode(dc, "drift"), parseFusedScan(dc, "drift"),
            refPath, bucketStr, maxTvd))
      }
    def driftVerdict(failMode: Boolean, tvd: Double, maxTvd: Double,
        refPath: String): Unit =
      if (tvd > maxTvd) {
        val msg = f"drift gate: TVD $tvd%.4f > $maxTvd vs $refPath"
        if (failMode) throw new graft.GraftDataError(msg)
        else Pipeline.log.warn(s"[drift] $msg")
      }
    val driftFn: Option[DataFrame => Unit] = driftSection.collect {
      case (failMode, false, refPath, bucketStr, maxTvd) => df =>
        import org.apache.spark.sql.functions.{coalesce, col, expr, lit, max, sum}
        val reference = ParquetRead(spark, refPath)
        val agg = graft.operators.DataChecks
          .distributionDrift(reference, df, expr(bucketStr))
          .agg(coalesce(sum(col("count_b")), lit(0L)).as("n"),
            max(col("tvd")).as("tvd"))
          .head()
        if (agg.getLong(0) > 0) driftVerdict(failMode, agg.getDouble(1), maxTvd, refPath)
    }
    // fused drift: the reference census is bounded (the gate's categorical
    // regime — observedDrift refuses high cardinality, typed), so its
    // per-bucket counters ride the sink's action exactly like the fused
    // expectations — zero extra passes over the INPUT; only the |buckets|-
    // row reference snapshot is read eagerly at attach time.
    val driftObservedFn: Option[DataFrame => (DataFrame, () => Unit)] =
      driftSection.collect {
        case (failMode, true, refPath, bucketStr, maxTvd) => df =>
          import org.apache.spark.sql.functions.expr
          val (instrumented, tvdThunk) = graft.operators.DataChecks
            .observedDrift(df, ParquetRead(spark, refPath), expr(bucketStr))
          (instrumented,
            () => tvdThunk().foreach(driftVerdict(failMode, _, maxTvd, refPath)))
      }
    val combinedGate: Option[DataFrame => Unit] = (gateFn, driftFn) match {
      case (Some(a), Some(b)) => Some { df => a(df); b(df) }
      case (a, b) => a.orElse(b)
    }
    // both fused gates may instrument one plan (distinct Observation
    // names): attachers stack, verdicts run in declaration order
    val observedCombined: Option[DataFrame => (DataFrame, () => Unit)] =
      Seq(observedFn, driftObservedFn).flatten match {
        case Seq() => None
        case Seq(one) => Some(one)
        case many => Some { df =>
          val (finalDf, verdicts) =
            many.foldLeft((df, Vector.empty[() => Unit])) { case ((d, vs), att) =>
              val (d2, v) = att(d); (d2, vs :+ v)
            }
          (finalDf, () => verdicts.foreach(_()))
        }
      }

    // sink resolution: under a FUSED gate the versioned sink goes two-phase
    // (write the run directory in the sink call — the gate's metrics ride
    // that action — and repoint `latest` only after the verdict passes), so
    // a violating run never becomes reader-visible; every other pairing
    // keeps the one-phase registry form and the documented
    // verdict-after-write trade.
    val (sinkFn, stagedFn): (Option[DataFrame => Unit],
        Option[DataFrame => () => Unit]) = sinkSection match {
      case None => (None, None)
      case Some(("versioned", opts)) if observedCombined.isDefined =>
        (None, Some((df: DataFrame) => Sinks.writeVersionedStaged(
          df, req(opts, "path", "versioned"), req(opts, "runId", "versioned"))))
      case Some((name, opts)) =>
        (Some((df: DataFrame) => sink(name)(df, opts)), None)
    }

    // advisor gate: same hard-gate posture as the sink registry — an
    // unknown mode is a config error at parse time, not a silent default
    val advisorMode = (cfg \ "advisor" \ "mode").extractOpt[String] match {
      case None | Some("off") => Pipeline.AdvisorOff
      case Some("log") => Pipeline.AdvisorLog
      case Some("fail") => Pipeline.AdvisorFail
      case Some(other) => throw new graft.GraftConfigError(
        s"advisor.mode '$other' (expected off|log|fail)")
    }

    Pipeline(
      source = source,
      transforms = transforms.result(),
      failOnMissing = (cfg \ "failOnMissing").extractOrElse[Boolean](true),
      sink = sinkFn,
      checkpoint = checkpointFn,
      advisorMode = advisorMode,
      gate = combinedGate,
      observedGate = observedCombined,
      stagedSink = stagedFn)
  }
}
