package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._
// parquet's ColumnChunkMetaData.getStatistics returns Statistics[T forSome T]
import scala.language.existentials

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Versioned table layer — the manifest/snapshot log that unifies the
  * [[StorageLayout]] maintenance moves (append, compact, delete,
  * recluster) into ATOMIC table versions with time travel, the
  * Delta/Iceberg log shape reduced to its load-bearing core:
  *
  *  - data files are immutable and live flat under `<path>/data/`;
  *  - version N is a manifest `<path>/_log/vNNNNNNN.json` listing the
  *    file names that make up the table at N, plus per-file per-column
  *    min/max bounds harvested from the parquet FOOTERS at write time
  *    (zero data IO — the stats the writer already paid for);
  *  - every commit writes its NEW data files first, then publishes
  *    the manifest via a write-to-tmp + rename (the ledger-first
  *    rule): a crash mid-commit leaves orphan data files and NO
  *    manifest, so readers never see a partial version and a re-run
  *    simply re-commits;
  *  - old versions stay readable (time travel) until [[vacuum]]
  *    drops files no retained manifest references — and vacuum
  *    records its retention watermark FIRST, so a reader of a
  *    dropped version fails fast with "version vacuumed", never a
  *    mid-job FileNotFound;
  *  - all MUTATIONS serialize behind [[IndexOps.withMutationLock]]:
  *    a second concurrent committer fails loudly instead of racing
  *    the version counter and stranding orphan data files.
  *
  * Contrast with the directory-swap maintenance ops
  * ([[StorageLayout.compactSmallFiles]]/[[StorageLayout.deleteWhere]]):
  * those mutate a plain parquet directory in place (no history, works
  * on any existing data); this layer buys atomic multi-reader
  * versioning and time travel for the price of owning the directory
  * layout. [[optimizeRange]]/[[optimizeZOrder]] are the committed-
  * version twins of the StorageLayout layout writers (Delta's
  * OPTIMIZE ZORDER): a recluster is a table version, time-travelable
  * and vacuumable like any other.
  *
  * 100 TB shape: manifests carry file NAMES + footer bounds (bytes
  * proportional to file count, never data); reads hand Spark the
  * exact file list, so scan planning never lists the directory;
  * [[readBand]] prunes that list against the manifest bounds BEFORE
  * Spark opens a single footer — at object-store latency the
  * difference between one manifest read and 100k footer GETs.
  * Per-file driver work (staging renames, footer harvests) runs on a
  * bounded thread pool, not a serial loop.
  */
object TableLog {

  /** Per-file column bound from the parquet footer. `kind`: "l"
    * (integral), "d" (floating), "s" (UTF8 string); min/max carried
    * as strings so 64-bit longs survive JSON exactly.
    */
  final case class ColBound(kind: String, min: String, max: String)

  /** One EQUALITY-DELETE sidecar (Iceberg's equality-delete shape,
    * the streaming-upsert unit): `_eqd/dir` holds distinct, non-null
    * `keyCols` tuples committed as version `seq`; a data file f is
    * affected iff it was LIVE when the sidecar committed
    * (`Manifest.eqBorn(f) <= seq`) — rows appended later, including
    * the same commit's upsert appends, are never matched, which is
    * exactly what makes delete-keys-then-append an upsert. `bounds`
    * are the key tuples' min/max per column, for pruning delta reads
    * (CDC/diff) and candidate scans from the manifest alone.
    */
  final case class EqDelete(
      dir: String, seq: Long, keyCols: Seq[String],
      bounds: Map[String, ColBound] = Map.empty)

  /** `files` are paths RELATIVE to `data/` (flat names for
    * unpartitioned tables; `col=value/...` hive paths for partitioned
    * ones). `partCols` + `parts` (per-file partition VALUES, aligned
    * with partCols) are the Iceberg-style partition record: equality
    * pruning decides from the manifest, the hive directory layout
    * lets one Spark scan recover the columns. `dvs` maps a data file
    * to the DELETION-VECTOR sidecar dirs (names under `_dv/`) whose
    * positions are dead in it — merge-on-read deletes: the file's
    * bytes are untouched, readers anti-join the positions out, and
    * any rewrite of the file FOLDS its vectors in and drops the entry.
    */
  private final case class Manifest(
      tag: Option[String],
      files: Seq[String],
      stats: Map[String, Map[String, ColBound]],
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      partCols: Seq[String] = Nil,
      parts: Map[String, Seq[String]] = Map.empty,
      ts: Option[Long] = None,
      dvs: Map[String, Seq[String]] = Map.empty,
      eqd: Seq[EqDelete] = Nil,
      eqBorn: Map[String, Long] = Map.empty)

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def logDir(path: String) = new Path(s"$path/_log")
  private def dataDir(path: String) = new Path(s"$path/data")
  private def changesDir(path: String) = new Path(s"$path/_changes")
  private def dvDir(path: String) = new Path(s"$path/_dv")
  private def eqDir(path: String) = new Path(s"$path/_eqd")
  private def changePath(path: String, v: Long) =
    new Path(changesDir(path), f"v$v%07d")
  private def manifestPath(path: String, v: Long) =
    new Path(logDir(path), f"v$v%07d.json")
  private def watermarkPath(path: String) =
    new Path(logDir(path), "_vacuum_watermark")

  /** Test-visible log-IO accounting per table path: manifest reads
    * and `_log/` directory lists. Pins the checkpoint's
    * O(1)+O(since-checkpoint) read-path claim with counted IO
    * instead of wall-clock.
    */
  private[operators] object LogIo {
    private val reads = new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.atomic.AtomicLong]()
    private val lists = new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.atomic.AtomicLong]()
    private def bump(m: java.util.concurrent.ConcurrentHashMap[
        String, java.util.concurrent.atomic.AtomicLong], path: String): Unit = {
      m.computeIfAbsent(path,
        _ => new java.util.concurrent.atomic.AtomicLong).incrementAndGet()
      ()
    }
    def bumpRead(path: String): Unit = bump(reads, path)
    def bumpList(path: String): Unit = bump(lists, path)
    def manifestReads(path: String): Long =
      Option(reads.get(path)).map(_.get).getOrElse(0L)
    def logLists(path: String): Long =
      Option(lists.get(path)).map(_.get).getOrElse(0L)
  }

  /** Committed versions, ascending; empty if no table exists. The
    * listing authority (which manifests EXIST — vacuum and forensics
    * need it); hot paths resolve through [[latestVersion]]'s
    * checkpoint + probes instead.
    */
  def versions(spark: SparkSession, path: String): Seq[Long] = {
    val f = fs(spark, path)
    LogIo.bumpList(path)
    if (!f.exists(logDir(path))) Nil
    else f.listStatus(logDir(path)).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toLong
      }.sorted
  }

  /** Latest committed version: resolved from the newest checkpoint
    * plus O(since-checkpoint) existence probes — never a `_log/`
    * listing once a checkpoint exists. Every read and mutation calls
    * this, so at a streaming sink's 50k commits it is the difference
    * between one small read + a few HEADs and a 50k-entry list per
    * operation.
    */
  def latestVersion(spark: SparkSession, path: String): Long =
    latestFrom(spark, path, newestCkpt(spark, path))

  private def latestFrom(
      spark: SparkSession, path: String, ck: Option[Ckpt]): Long = ck match {
    case Some(c) =>
      val above = versionsAbove(spark, path, c.version)
      if (above.nonEmpty) above.last
      else if (fs(spark, path).exists(manifestPath(path, c.version))) c.version
      else {
        // checkpoint without its manifest and nothing above it:
        // debris — fall back to the listing authority
        val vs = versions(spark, path)
        require(vs.nonEmpty, s"TableLog: no committed version at $path")
        vs.last
      }
    case None =>
      val vs = versions(spark, path)
      require(vs.nonEmpty, s"TableLog: no committed version at $path")
      vs.last
  }

  private def readSmallFile(spark: SparkSession, path: String, p: Path): String = {
    val f = fs(spark, path)
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  private def manifestBody(spark: SparkSession, path: String, v: Long): String = {
    val f = fs(spark, path)
    val mp = manifestPath(path, v)
    require(f.exists(mp), s"TableLog: version $v not committed at $path")
    LogIo.bumpRead(path)
    readSmallFile(spark, path, mp)
  }

  /** Manifest format marker: >= 2 means string bounds carry EXACTNESS
    * kinds ("s" exact / "t" possibly-truncated). Manifests without the
    * field predate the split and recorded "s" unconditionally — even
    * for files written under `parquet.statistics.truncate.length` — so
    * their string "s" bounds DOWNGRADE to "t" at parse: still a sound
    * superset range for pruning, never served as a MIN/MAX answer.
    */
  private val ManifestFmt = 2L

  /** Parse a manifest; accepts all historical formats (bare JSON
    * string array; {"tag","files"}; {"tag","files","stats"}).
    */
  private def parseManifest(body: String): Manifest =
    JsonMethods.parse(body) match {
      case JArray(vs) =>
        Manifest(None, vs.collect { case JString(s) => s }, Map.empty)
      case o: JObject =>
        val tag = o \ "tag" match { case JString(t) => Some(t); case _ => None }
        val fmt = o \ "fmt" match { case JInt(n) => n.toLong; case _ => 1L }
        val files = o \ "files" match {
          case JArray(vs) => vs.collect { case JString(s) => s }
          case _ => Nil
        }
        val stats = o \ "stats" match {
          case JObject(byFile) => byFile.map { case (fname, cols) =>
            fname -> (cols match {
              case JObject(byCol) => byCol.collect {
                case (cn, JArray(List(JString(k), JString(mn), JString(mx)))) =>
                  val kd = if (k == "s" && fmt < 2L) "t" else k
                  cn -> ColBound(kd, mn, mx)
              }.toMap
              case _ => Map.empty[String, ColBound]
            })
          }.toMap
          case _ => Map.empty[String, Map[String, ColBound]]
        }
        val schema = o \ "schema" match {
          case JString(s) => Some(org.apache.spark.sql.types.DataType
            .fromJson(s).asInstanceOf[org.apache.spark.sql.types.StructType])
          case _ => None
        }
        val partCols = o \ "partCols" match {
          case JArray(vs) => vs.collect { case JString(s) => s }
          case _ => Nil
        }
        val parts = o \ "parts" match {
          case JObject(byFile) => byFile.map { case (fname, vals) =>
            fname -> (vals match {
              case JArray(vs) => vs.collect { case JString(s) => s }
              case _ => Nil
            })
          }.toMap
          case _ => Map.empty[String, Seq[String]]
        }
        val ts = o \ "ts" match {
          case JInt(n) => Some(n.toLong)
          case _ => None
        }
        val dvs = o \ "dvs" match {
          case JObject(byFile) => byFile.map { case (fname, ds) =>
            fname -> (ds match {
              case JArray(vs) => vs.collect { case JString(s) => s }
              case _ => Nil
            })
          }.toMap
          case _ => Map.empty[String, Seq[String]]
        }
        val eqd = o \ "eqd" match {
          case JArray(es) => es.collect { case eo: JObject =>
            val dir = eo \ "dir" match { case JString(d) => d; case _ => "" }
            val seq = eo \ "seq" match { case JInt(n) => n.toLong; case _ => 0L }
            val cols = eo \ "cols" match {
              case JArray(cs) => cs.collect { case JString(c) => c }
              case _ => Nil
            }
            val bounds = eo \ "bounds" match {
              case JObject(byCol) => byCol.collect {
                case (cn, JArray(List(JString(k), JString(mn), JString(mx)))) =>
                  cn -> ColBound(k, mn, mx)
              }.toMap
              case _ => Map.empty[String, ColBound]
            }
            EqDelete(dir, seq, cols, bounds)
          }
          case _ => Nil
        }
        val eqBorn = o \ "eqBorn" match {
          case JObject(byFile) => byFile.collect {
            case (fname, JInt(n)) => fname -> n.toLong
          }.toMap
          case _ => Map.empty[String, Long]
        }
        Manifest(tag, files, stats, schema, partCols, parts, ts, dvs,
          eqd, eqBorn)
      case other =>
        throw new IllegalStateException(s"TableLog: unparseable manifest: $other")
    }

  private def renderManifest(m: Manifest): String = {
    val filesJ = JArray(m.files.sorted.map(JString(_): JValue).toList)
    val statsJ = JObject(m.stats.toList.sortBy(_._1).map { case (f, cols) =>
      f -> (JObject(cols.toList.sortBy(_._1).map { case (c, b) =>
        c -> (JArray(List(JString(b.kind), JString(b.min), JString(b.max))): JValue)
      }): JValue)
    })
    val partsFields: List[(String, JValue)] =
      if (m.partCols.isEmpty) Nil
      else List(
        "partCols" -> (JArray(m.partCols.map(JString(_): JValue).toList): JValue),
        "parts" -> (JObject(m.parts.toList.sortBy(_._1).map { case (f, vs) =>
          f -> (JArray(vs.map(JString(_): JValue).toList): JValue)
        }): JValue))
    val dvFields: List[(String, JValue)] = {
      val live = m.dvs.filter(_._2.nonEmpty)
      if (live.isEmpty) Nil
      else List("dvs" -> (JObject(live.toList.sortBy(_._1).map { case (f, ds) =>
        f -> (JArray(ds.map(JString(_): JValue).toList): JValue)
      }): JValue))
    }
    val eqFields: List[(String, JValue)] =
      if (m.eqd.isEmpty) Nil
      else List(
        "eqd" -> (JArray(m.eqd.toList.map { e =>
          JObject(List(
            "dir" -> (JString(e.dir): JValue),
            "seq" -> (JInt(e.seq): JValue),
            "cols" -> (JArray(e.keyCols.map(JString(_): JValue).toList): JValue),
            "bounds" -> (JObject(e.bounds.toList.sortBy(_._1).map {
              case (c, b) => c -> (JArray(List(JString(b.kind),
                JString(b.min), JString(b.max))): JValue)
            }): JValue))): JValue
        }): JValue),
        "eqBorn" -> (JObject(m.eqBorn.toList.sortBy(_._1).map { case (f, s) =>
          f -> (JInt(s): JValue)
        }): JValue))
    val fields: List[(String, JValue)] =
      ("fmt" -> (JInt(ManifestFmt): JValue)) ::
        (m.tag.map(t => "tag" -> (JString(t): JValue)).toList ++
          m.ts.map(t => "ts" -> (JInt(t): JValue)).toList ++
          m.schema.map(s => "schema" -> (JString(s.json): JValue)).toList ++
          partsFields ++ dvFields ++ eqFields :+
          ("files" -> (filesJ: JValue)) :+ ("stats" -> (statsJ: JValue)))
    JsonMethods.compact(JsonMethods.render(JObject(fields)))
  }

  private def readManifestFull(
      spark: SparkSession, path: String, v: Long): Manifest =
    parseManifest(manifestBody(spark, path, v))

  private def readManifest(spark: SparkSession, path: String, v: Long): Seq[String] =
    readManifestFull(spark, path, v).files

  /** Write a log-state checkpoint every this many versions. The
    * checkpoint captures the FULL derived log state — latest version,
    * that version's manifest (files + stats + schema), the tag map,
    * and per-version row-count history — so [[latestVersion]]/
    * [[read]]/[[tags]]/[[history]] replay O(1) checkpoint IO +
    * O(versions-since-checkpoint) manifest reads instead of listing
    * and walking `_log/`. A streaming sink committing every few
    * minutes accretes tens of thousands of versions; without this,
    * every operation pays O(#versions) log IO (the Delta CHECKPOINT
    * move).
    */
  val CheckpointEvery: Long = 32L

  private def ckptPath(path: String, v: Long) =
    new Path(logDir(path), f"_ckpt_v$v%07d.json")
  private def lastCkptPtr(path: String) =
    new Path(logDir(path), "_last_ckpt")

  /** Full checkpointed log state as of `version`. `history` is None
    * for pre-round-13 tag-only checkpoints (fall back to walking);
    * ascending (version, rows) otherwise. `manifest` is the state at
    * `version` itself.
    */
  private final case class Ckpt(
      version: Long,
      tags: Map[String, Long],
      history: Option[Seq[(Long, Long)]],
      manifest: Option[Manifest])

  private def parseCkpt(v: Long, body: String): Ckpt = {
    val j = JsonMethods.parse(body)
    val tags = j \ "tags" match {
      case JObject(fields) => fields.collect {
        case (k, JInt(n)) => k -> n.toLong
      }.toMap
      case _ => Map.empty[String, Long]
    }
    val history = j \ "history" match {
      case JArray(rows) => Some(rows.collect {
        case JArray(List(JInt(hv), JInt(hr))) => (hv.toLong, hr.toLong)
      })
      case _ => None
    }
    val manifest = j \ "manifest" match {
      case o: JObject => Some(parseManifest(JsonMethods.compact(
        JsonMethods.render(o))))
      case _ => None
    }
    Ckpt(v, tags, history, manifest)
  }

  /** Newest checkpoint, located through the `_last_ckpt` pointer
    * (one small read — never a directory list in steady state; the
    * list fallback serves pre-pointer tables). Checkpoint readers are
    * LOCK-FREE, so a concurrent mutator's [[writeCkpt]] can publish a
    * newer checkpoint and delete the one this reader just resolved —
    * the open then throws FileNotFound. Bounded retry re-resolves and
    * finds the replacement (writeCkpt renames the new checkpoint in
    * BEFORE deleting old ones, so a readable one always exists):
    * readers never fail on the race.
    */
  private def newestCkpt(spark: SparkSession, path: String): Option[Ckpt] = {
    val f = fs(spark, path)
    var attempt = 0
    while (attempt < 9) {
      val found: Option[Long] =
        (try {
          if (f.exists(lastCkptPtr(path)))
            Some(readSmallFile(spark, path, lastCkptPtr(path)).trim.toLong)
          else None
        } catch { case _: java.io.FileNotFoundException => None }) match {
          case some @ Some(_) => some
          case None =>
            if (!f.exists(logDir(path))) None
            else f.listStatus(logDir(path)).toSeq.map(_.getPath.getName)
              .collect { case n if n.startsWith("_ckpt_v") && n.endsWith(".json") =>
                n.stripPrefix("_ckpt_v").stripSuffix(".json").toLong
              }.sorted.lastOption
        }
      found match {
        case None => return None
        case Some(v) =>
          try return Some(parseCkpt(v,
            readSmallFile(spark, path, ckptPath(path, v))))
          catch {
            case _: java.io.FileNotFoundException =>
              attempt += 1 // deleted under us: a newer one exists; re-resolve
          }
      }
    }
    throw new IllegalStateException(
      s"TableLog: checkpoint at $path kept vanishing across 9 reads")
  }

  /** Committed versions strictly above `from`, by existence probes
    * (versions are committed densely, so the first missing manifest
    * ends the run) — O(since-`from`) metadata RPCs, no directory
    * list. Only valid when `from` is a committed (or checkpointed)
    * version: vacuum deletes a PREFIX of versions, never punches
    * holes above a checkpoint ([[vacuum]] re-checkpoints at the
    * latest version before dropping anything).
    */
  private def versionsAbove(
      spark: SparkSession, path: String, from: Long): Seq[Long] = {
    val f = fs(spark, path)
    Iterator.iterate(from + 1)(_ + 1)
      .takeWhile(v => f.exists(manifestPath(path, v)))
      .toSeq
  }

  /** Rows in version `v` per its manifest: the [[RowsKey]] sums when
    * every file carries one (zero data IO), a count scan otherwise
    * (pre-stats manifests only).
    */
  private def manifestRows(
      spark: SparkSession, path: String, m: Manifest): Long = {
    val known = m.files
      .flatMap(n => m.stats.get(n).flatMap(_.get(RowsKey)))
      .map(_.min.toLong)
    // logical rows: deletion-vector positions are dead (exact per-file
    // accounting); equality deletes have NO per-file accounting — the
    // manifest cannot know how many rows a key list kills, so such
    // versions pay a visible-rows count scan
    if (known.size == m.files.size && !anyEq(m, m.files))
      known.sum - m.files.map(dvRowsOf(m, _)).sum
    else readFilesDv(spark, path, m, m.files).count()
  }

  /** Checkpoint the full log state as of version `v`: built
    * INCREMENTALLY from the previous checkpoint plus the ≤
    * [[CheckpointEvery]] manifests committed since (never a full log
    * walk), published tmp + rename, then the `_last_ckpt` pointer is
    * updated and older checkpoints dropped. Derived data — a stale or
    * missing checkpoint only costs manifest reads.
    */
  private def writeCkpt(spark: SparkSession, path: String, v: Long): Unit = {
    val f = fs(spark, path)
    val prev = newestCkpt(spark, path)
    val from = prev.map(_.version).getOrElse(0L)
    // versions to fold in: everything committed in (from, v]. Sourced
    // from a probe when the previous checkpoint anchors the run, from
    // a (bounded: pre-first-checkpoint) list otherwise.
    val newer = (if (prev.isDefined) versionsAbove(spark, path, from)
      else versions(spark, path)).filter(_ <= v)
    val folded = newer.map(nv => nv -> readManifestFull(spark, path, nv))
    val tagMap = prev.map(_.tags).getOrElse(Map.empty[String, Long]) ++
      folded.flatMap { case (nv, m) => m.tag.map(_ -> nv) }.toMap
    // pre-round-13 checkpoints carry no history: rebuild what is
    // still on disk (vacuumed versions' rows are unrecoverable there)
    val baseHist = prev.flatMap(_.history).getOrElse(
      prev.map(c => versions(spark, path).filter(_ <= c.version).map { hv =>
        val m = readManifestFull(spark, path, hv)
        hv -> manifestRows(spark, path, m)
      }).getOrElse(Nil))
    val hist = baseHist ++ folded.map { case (nv, m) =>
      nv -> manifestRows(spark, path, m)
    }
    val manifest = folded.lastOption.filter(_._1 == v).map(_._2)
      .getOrElse(readManifestFull(spark, path, v))
    val body = JsonMethods.compact(JsonMethods.render(JObject(List(
      "version" -> (JInt(v): JValue),
      "tags" -> (JObject(tagMap.toList.sortBy(_._1).map { case (k, n) =>
        k -> (JInt(n): JValue)
      }): JValue),
      "history" -> (JArray(hist.sortBy(_._1).map { case (hv, hr) =>
        JArray(List(JInt(hv), JInt(hr))): JValue
      }.toList): JValue),
      "manifest" -> (JsonMethods.parse(renderManifest(manifest)): JValue)))))
    val tmp = new Path(logDir(path),
      s"_tmp_ckpt_${java.util.UUID.randomUUID()}.json")
    val out = f.create(tmp, true)
    out.write(body.getBytes(UTF_8))
    out.close()
    f.delete(ckptPath(path, v), false)
    require(f.rename(tmp, ckptPath(path, v)),
      "TableLog: checkpoint publish failed")
    // pointer AFTER the checkpoint is readable; cleanup last
    val ptmp = new Path(logDir(path),
      s"_tmp_ptr_${java.util.UUID.randomUUID()}")
    val pout = f.create(ptmp, true)
    pout.write(v.toString.getBytes(UTF_8))
    pout.close()
    f.delete(lastCkptPtr(path), false)
    require(f.rename(ptmp, lastCkptPtr(path)),
      "TableLog: checkpoint pointer publish failed")
    f.listStatus(logDir(path)).foreach { s =>
      val n = s.getPath.getName
      if (n.startsWith("_ckpt_v") && n.endsWith(".json") &&
        n.stripPrefix("_ckpt_v").stripSuffix(".json").toLong < v)
        f.delete(s.getPath, false)
    }
  }

  /** Idempotency tags of all committed versions (see [[appendBatch]]):
    * the newest checkpoint plus the manifests committed after it —
    * O(1) + O(versions-since-checkpoint) reads, not O(#versions).
    * Because [[vacuum]] checkpoints BEFORE dropping manifests, tags
    * of vacuumed versions survive — a replayed ancient batch is still
    * recognized instead of silently double-appending.
    */
  def tags(spark: SparkSession, path: String): Map[String, Long] = {
    val base = newestCkpt(spark, path)
    val inc = base match {
      case Some(c) => versionsAbove(spark, path, c.version)
      case None => versions(spark, path)
    }
    base.map(_.tags).getOrElse(Map.empty[String, Long]) ++
      inc.flatMap { v =>
        readManifestFull(spark, path, v).tag.map(_ -> v)
      }.toMap
  }

  /** File names making up `version` (default latest) — the manifest's
    * list, exposed for maintenance policies (e.g. a streaming sink's
    * compaction threshold) without planning a read.
    */
  def files(spark: SparkSession, path: String,
      version: Option[Long] = None): Seq[String] = {
    val v = version.getOrElse(latestVersion(spark, path))
    readManifest(spark, path, v)
  }

  /** Per-file column bounds recorded in version `v`'s manifest
    * (empty map per file for pre-stats manifests).
    */
  def fileStats(spark: SparkSession, path: String, v: Long)
      : Map[String, Map[String, ColBound]] =
    readManifestFull(spark, path, v).stats

  /** Publish `files` (+ per-file footer bounds) as version `v`: tmp
    * write, fsync-close, rename. The rename is the commit point; an
    * optional idempotency `tag` rides INSIDE the manifest, so tag and
    * version become visible atomically.
    */
  private def commit(
      spark: SparkSession, path: String, v: Long, files: Seq[String],
      stats: Map[String, Map[String, ColBound]],
      tag: Option[String] = None,
      schema: Option[org.apache.spark.sql.types.StructType] = None): Long =
    commitFull(spark, path, v, Manifest(tag, files, stats, schema))

  private def commitFull(
      spark: SparkSession, path: String, v: Long, m: Manifest): Long = {
    if (!commitTryFull(spark, path, v, m))
      throw new CommitRaceException(
        s"TableLog: commit of v$v lost the race (concurrent writer)")
    v
  }

  /** In-process guard serializing the exists-check + rename per
    * (table, version): local-filesystem rename(2) OVERWRITES an
    * existing destination, so the rename alone is not a CAS there.
    * Cross-process, HDFS rename-without-overwrite and object-store
    * conditional PUTs are atomic; local mode gets the JVM guard.
    */
  private val commitGuard =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The version-publication seam — the ONE operation whose atomicity
    * the whole log leans on (Delta's LogStore). CONTRACT: `publish`
    * makes `tmp`'s bytes visible at `dest` and returns true iff this
    * caller WON — of any number of concurrent publishers of the same
    * `dest` (across processes and machines), exactly one may return
    * true, and after a false return `dest` holds some winner's bytes
    * and `tmp` is disposed of. Implementations per filesystem:
    *
    *  - local POSIX ([[RenameCommitProtocol]], the default):
    *    exists-check + rename under `guard` (a per-(table,version)
    *    JVM monitor) — atomic within one JVM; two separate driver
    *    JVMs on one POSIX filesystem can still both "win" because
    *    rename(2) overwrites. Single-driver-per-table is the
    *    documented local contract.
    *  - HDFS: the same impl IS cross-process safe — HDFS
    *    rename-without-overwrite is atomic in the NameNode.
    *  - S3 and friends: rename is copy+delete (not atomic, and
    *    blind). A real deployment plugs a conditional-PUT impl
    *    (`If-None-Match: *`; S3/GCS/ABFS all support it) or an
    *    external coordinator (the DynamoDB LogStore pattern) via
    *    `spark.graft.tablelog.commitProtocol=<class>` — a Scala
    *    `object` (MODULE$) or a no-arg class.
    */
  trait CommitProtocol {
    def publish(fs: org.apache.hadoop.fs.FileSystem, tmp: Path, dest: Path,
        guard: Object): Boolean
  }

  /** Default: exists+rename CAS under the per-(table,version) JVM
    * monitor. See [[CommitProtocol]] for the per-filesystem
    * guarantees.
    */
  object RenameCommitProtocol extends CommitProtocol {
    override def publish(fs: org.apache.hadoop.fs.FileSystem, tmp: Path,
        dest: Path, guard: Object): Boolean = guard.synchronized {
      if (fs.exists(dest)) { fs.delete(tmp, false); false }
      else fs.rename(tmp, dest)
    }
  }

  /** Reference CONDITIONAL-PUT implementation of the seam — the shape
    * an object-store deployment plugs in (`If-None-Match: *` on
    * S3/GCS/ABFS): the manifest bytes are PUT directly at `dest`,
    * create-if-absent, and losing the condition means some other
    * driver's bytes already won — never a rename. Against a real
    * object store the createFile(dest).create() call maps 1:1 to the
    * conditional PUT (the store's own atomicity replaces the guard);
    * this local implementation keeps the per-(table,version) JVM
    * monitor because POSIX create-exclusive through the Hadoop
    * LocalFileSystem is a non-atomic exists+create pair — the contract
    * under test is the PUT-not-rename write path and the lose-on-
    * existing answer, which the two-driver clobber spec pins.
    * Select with
    * `spark.graft.tablelog.commitProtocol=
    * graft.operators.TableLog$ConditionalPutCommitProtocol$`.
    */
  object ConditionalPutCommitProtocol extends CommitProtocol {
    override def publish(fs: org.apache.hadoop.fs.FileSystem, tmp: Path,
        dest: Path, guard: Object): Boolean = {
      val body =
        try {
          val in = fs.open(tmp)
          try {
            val out = new java.io.ByteArrayOutputStream()
            val buf = new Array[Byte](8192)
            var n = in.read(buf)
            while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
            out.toByteArray
          } finally in.close()
        } finally { fs.delete(tmp, false); () }
      guard.synchronized {
        if (fs.exists(dest)) false
        else {
          // the conditional PUT: create-if-absent, bytes in one call
          val out = fs.create(dest, false)
          try out.write(body) finally out.close()
          true
        }
      }
    }
  }

  private val protocolCache =
    new java.util.concurrent.ConcurrentHashMap[String, CommitProtocol]()

  private def commitProtocol(spark: SparkSession): CommitProtocol =
    spark.conf.getOption("spark.graft.tablelog.commitProtocol") match {
      case None => RenameCommitProtocol
      case Some(cn) => protocolCache.computeIfAbsent(cn, { name =>
        val cls = Class.forName(name)
        if (name.endsWith("$"))
          cls.getField("MODULE$").get(null).asInstanceOf[CommitProtocol]
        else cls.getDeclaredConstructor().newInstance()
          .asInstanceOf[CommitProtocol]
      })
    }

  /** A commit lost the version CAS to a concurrent writer (an
    * optimistic appender can steal a locked mutator's version —
    * appends take no lock). Locked mutators RETRY on it: the whole
    * mutation recomputes against the new latest, so a retried delete
    * also covers rows a concurrent append landed meanwhile — the
    * write-serializable outcome.
    */
  final class CommitRaceException(msg: String) extends RuntimeException(msg)

  private def withStealRetry[A](op: String, attempts: Int = 3)(body: => A): A = {
    var i = 0
    while (true) {
      try return body
      catch {
        case _: CommitRaceException if i < attempts - 1 => i += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Test seam: a one-shot action run INSIDE commitTryFull, before
    * the CAS, keyed by table path — lets a spec inject a concurrent
    * commit deterministically into the race window.
    */
  private[graft] val testPreCommit =
    new java.util.concurrent.ConcurrentHashMap[String, Runnable]()

  /** Attempt to publish version `v`; false iff another writer already
    * committed it — the compare-and-swap [[appendOptimistic]] retries
    * on. A won commit at a [[CheckpointEvery]] boundary also writes
    * the log-state checkpoint.
    */
  private def commitTry(
      spark: SparkSession, path: String, v: Long, files: Seq[String],
      stats: Map[String, Map[String, ColBound]],
      tag: Option[String] = None,
      schema: Option[org.apache.spark.sql.types.StructType] = None): Boolean =
    commitTryFull(spark, path, v, Manifest(tag, files, stats, schema))

  private def commitTryFull(
      spark: SparkSession, path: String, v: Long, m: Manifest): Boolean = {
    // v1 with a recorded schema is CREATE TABLE without data
    // ([[createEmpty]]); at v >= 2, an empty file list is allowed
    // only when the PARENT version was also empty (a maintenance op —
    // compact/optimize/restore — re-committing a created-but-still-
    // empty table is a no-op, not a delete); an empty list over a
    // non-empty parent is an all-rows delete and stays refused
    def emptyOk: Boolean = m.schema.isDefined && (v == 1L ||
      (try readManifestFull(spark, path, v - 1).files.isEmpty
      catch { case scala.util.control.NonFatal(_) => false }))
    require(m.files.nonEmpty || emptyOk,
      "TableLog: refusing to commit an empty file list " +
        "(an all-rows delete; drop the table instead)")
    // no quotes or brackets: defense in depth for any downstream
    // consumer that greps manifests textually (the JSON layer itself
    // escapes correctly since the stats upgrade)
    require(m.tag.forall(t => !t.exists(c => c == '"' || c == '[' || c == ']')),
      "TableLog: tag must not contain quotes or square brackets")
    val f = fs(spark, path)
    f.mkdirs(logDir(path))
    val tmp = new Path(logDir(path),
      s"_tmp_v${java.util.UUID.randomUUID()}.json")
    val out = f.create(tmp, true)
    // stamp the commit wall time at publish — fresh on EVERY commit
    // (a restore's manifest copy is its own commit event)
    out.write(renderManifest(
      m.copy(ts = Some(System.currentTimeMillis()))).getBytes(UTF_8))
    out.close()
    Option(testPreCommit.remove(path)).foreach(_.run())
    val dest = manifestPath(path, v)
    val guard = commitGuard.computeIfAbsent(s"$path#v$v", _ => new Object)
    val won = commitProtocol(spark).publish(f, tmp, dest, guard)
    if (won && v % CheckpointEvery == 0L) writeCkpt(spark, path, v)
    won
  }

  /** Run `n` per-file driver tasks on a bounded pool (object-store
    * metadata latency makes a serial loop O(#files · RTT); 16-wide
    * keeps a 100k-file commit in seconds). Exceptions propagate.
    */
  private def perFile[A, B](items: Seq[A], width: Int = 16)(f: A => B): Seq[B] = {
    if (items.isEmpty) Nil
    else if (items.size == 1) Seq(f(items.head))
    else {
      val pool = Executors.newFixedThreadPool(math.min(width, items.size))
      try {
        val futures = items.map(a => pool.submit(new Callable[B] {
          override def call(): B = f(a)
        }))
        futures.map(_.get())
      } finally pool.shutdown()
    }
  }

  /** Reserved stats key carrying the file's ROW COUNT (from the
    * footer's block metadata): [[history]] and any count-only reader
    * answer from the manifest without opening a single file. '#' is
    * not legal in this layer's column names, so it cannot collide.
    */
  val RowsKey = "#rows"

  /** The writer knob that makes parquet FOOTER string stats inexact.
    * parquet-format 2.10 defines is_min/max_value_exact flags, but the
    * parquet-mr this Spark bundles (1.16) neither writes nor reads
    * them — footer-level truncation is driven PURELY by this key:
    * unset (the default), an oversized binary stat is DROPPED
    * wholesale (withinLimit/MAX_STATS_SIZE — our harvest then omits
    * the bound: conservative), never truncated; set, longer values
    * truncate to a prefix (min) / an incremented prefix (max). So
    * "this write configured no truncation" IS the exactness proof.
    */
  private[operators] val StatsTruncateKey = "parquet.statistics.truncate.length"

  /** Min/max bounds per TOP-LEVEL primitive column from one parquet
    * file's footer — metadata IO only, merged across row groups — plus
    * the file row count under [[RowsKey]]. A column whose chunks lack
    * usable stats in any block is omitted (readers treat missing
    * bounds as "cannot prune": conservative). String bounds record
    * kind "s" (EXACT — servable as a MIN/MAX answer) only when the
    * write provably configured no footer-stat truncation
    * (`stringExact`, see [[StatsTruncateKey]]); otherwise kind "t" —
    * still a sound SUPERSET range for pruning (truncation widens the
    * range), but never served as an aggregate answer.
    */
  private[operators] def footerBounds(
      hconf: org.apache.hadoop.conf.Configuration,
      file: Path, stringExact: Boolean = true): Map[String, ColBound] = {
    val exactCols = stringExact && hconf.get(StatsTruncateKey) == null
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, hconf))
    try {
      val acc = scala.collection.mutable.Map.empty[String, ColBound]
      val dead = scala.collection.mutable.Set.empty[String]
      // per-column NULL counts (Delta/Iceberg's null_count): summed
      // across row groups, recorded only when EVERY chunk reports one
      // — they serve IsNull/IsNotNull file pruning and COUNT(col)
      // aggregate pushdown, and are tracked independently of the
      // value bounds (an all-null chunk has no min/max but an exact
      // null count)
      val nullAcc = scala.collection.mutable.Map.empty[String, Long]
      val nullDead = scala.collection.mutable.Set.empty[String]
      val nRows = reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
      acc(RowsKey) = ColBound("l", nRows.toString, nRows.toString)
      for (b <- reader.getFooter.getBlocks.asScala;
           c <- b.getColumns.asScala if c.getPath.size == 1) {
        val name = c.getPath.toDotString
        require(!name.startsWith("#"),
          s"TableLog: column names starting with '#' are reserved, got $name")
        val st = c.getStatistics
        if (st == null || st.isEmpty || !st.isNumNullsSet) nullDead += name
        else nullAcc(name) = nullAcc.getOrElse(name, 0L) + st.getNumNulls
        if (st == null || st.isEmpty || !st.hasNonNullValue) dead += name
        else {
          val pt = c.getPrimitiveType
          val bound: Option[ColBound] = pt.getPrimitiveTypeName match {
            case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 =>
              Some(ColBound("l",
                st.genericGetMin.toString, st.genericGetMax.toString))
            case PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE =>
              Some(ColBound("d",
                st.genericGetMin.toString, st.genericGetMax.toString))
            case PrimitiveTypeName.BINARY
                if pt.getLogicalTypeAnnotation ==
                  LogicalTypeAnnotation.stringType() =>
              Some(ColBound(if (exactCols) "s" else "t",
                st.genericGetMin.asInstanceOf[Binary].toStringUsingUTF8,
                st.genericGetMax.asInstanceOf[Binary].toStringUsingUTF8))
            case _ => None
          }
          bound match {
            case None => dead += name
            case Some(nb) =>
              acc.get(name) match {
                case None => acc(name) = nb
                case Some(prev) => acc(name) = mergeBounds(prev, nb)
              }
          }
        }
      }
      acc.toMap.filterNot { case (k, _) => dead.contains(k) } ++
        nullAcc.toMap.filterNot { case (k, _) => nullDead.contains(k) }
          .map { case (c, n) =>
            nullsKey(c) -> ColBound("l", n.toString, n.toString) }
    } finally reader.close()
  }

  /** Stats-map key carrying column `col`'s null count (rides as a
    * degenerate `ColBound`, like [[RowsKey]] — zero manifest format
    * changes; real column names can't collide, '#' is reserved).
    */
  def nullsKey(col: String): String = s"#nulls:$col"

  /** Stats-map key carrying the file's DELETED-ROW count (positions in
    * its deletion vectors): logical rows = [[RowsKey]] − this. Rides
    * as a degenerate `ColBound` like [[RowsKey]]. Files without
    * vectors simply lack the key.
    */
  val DvRowsKey = "#dvrows"

  private def dvRowsOf(m: Manifest, n: String): Long =
    m.stats.get(n).flatMap(_.get(DvRowsKey)).map(_.min.toLong).getOrElse(0L)

  /** String bounds compare in UTF-8 unsigned-byte order — the order
    * parquet footer min/max and Spark's UTF8String comparisons use.
    * Java's String.compareTo is UTF-16 code-unit order, which ranks
    * supplementary-plane characters (surrogate pairs, e.g. emoji)
    * BELOW U+E000..U+FFFF; pruning with it would wrongly drop files
    * whose matching rows sit past the plane boundary.
    */
  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(UTF_8)
    val y = b.getBytes(UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  private def mergeBounds(a: ColBound, b: ColBound): ColBound = a.kind match {
    case "l" => ColBound("l",
      math.min(a.min.toLong, b.min.toLong).toString,
      math.max(a.max.toLong, b.max.toLong).toString)
    case "d" => ColBound("d",
      math.min(a.min.toDouble, b.min.toDouble).toString,
      math.max(a.max.toDouble, b.max.toDouble).toString)
    case _ => ColBound(
      // "t" (possibly truncated) taints: the merge is exact only when
      // both sides are
      if (a.kind == "s" && b.kind == "s") "s" else "t",
      if (utf8Compare(a.min, b.min) <= 0) a.min else b.min,
      if (utf8Compare(a.max, b.max) >= 0) a.max else b.max)
  }

  /** Write `df`'s rows as new immutable data files under the table's
    * data dir; returns their names and per-file footer bounds. Files
    * are staged through a scratch dir and renamed in (same volume),
    * so a crash leaves orphans in scratch, never half-visible names
    * in data/. Renames and footer harvests run on the bounded pool.
    */
  private def writeDataFiles(
      spark: SparkSession, path: String, df: DataFrame)
      : (Seq[String], Map[String, Map[String, ColBound]]) =
    writeDataFilesInto(spark, path, df, None)

  /** [[writeDataFiles]] with an optional destination SUBDIR under
    * `data/` (a partition's hive directory for per-partition
    * rewrites); returned names are data/-relative.
    */
  private def writeDataFilesInto(
      spark: SparkSession, path: String, df: DataFrame,
      subdir: Option[String],
      writerOptions: Map[String, String] = Map.empty)
      : (Seq[String], Map[String, Map[String, ColBound]]) = {
    val f = fs(spark, path)
    val scratch = new Path(s"$path/_scratch_${java.util.UUID.randomUUID()}")
    df.write.options(writerOptions).mode("overwrite").parquet(scratch.toString)
    val destDir = subdir.map(d => new Path(dataDir(path), d))
      .getOrElse(dataDir(path))
    f.mkdirs(destDir)
    val staged = f.listStatus(scratch).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath)
    val names = perFile(staged) { p =>
      val n = p.getName
      require(f.rename(p, new Path(destDir, n)),
        s"TableLog: could not stage data file $n")
      subdir.map(d => s"$d/$n").getOrElse(n)
    }
    // string bounds are exact iff THIS write configured no footer-stat
    // truncation (the option would ride into the write job's hadoop
    // conf, invisible to the harvest conf)
    val stats = harvestStats(spark, path, names,
      stringExact = !writerOptions.keys.exists(
        _.equalsIgnoreCase(StatsTruncateKey)))
    f.delete(scratch, true)
    (names, stats)
  }

  /** Files-per-commit threshold above which footer-stat harvesting
    * runs as a Spark job instead of the driver pool: a 100k-file bulk
    * create/optimize would otherwise funnel ~100k footer GETs through
    * one JVM — minutes of near-serial driver metadata IO. Incremental
    * appends (bounded batches) stay on the pool, dodging job-launch
    * latency.
    */
  private[operators] val StatsJobThreshold = 64

  /** Per-file footer bounds for `names`, harvested where Delta and
    * Iceberg harvest them — in the CLUSTER — once the file count
    * outgrows the driver pool. Identical output on both paths
    * ([[footerBounds]] is deterministic per file); only manifest
    * rendering stays on the driver.
    */
  private[operators] def harvestStats(
      spark: SparkSession, path: String, names: Seq[String],
      stringExact: Boolean = true)
      : Map[String, Map[String, ColBound]] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    if (names.size <= StatsJobThreshold)
      perFile(names) { n =>
        n -> footerBounds(hconf, new Path(dataDir(path), n), stringExact)
      }.toMap
    else {
      val dataDirStr = dataDir(path).toString
      val conf = new org.apache.spark.SerializableWritable(
        new org.apache.hadoop.conf.Configuration(hconf))
      val slices =
        math.min(names.size, spark.sparkContext.defaultParallelism * 2)
      spark.sparkContext.parallelize(names, slices)
        .map(n => n -> footerBounds(conf.value, new Path(dataDirStr, n),
          stringExact))
        .collect().toMap
    }
  }

  private def withLock[A](spark: SparkSession, path: String, op: String)(
      body: => A): A =
    // bounded lock WAIT (default 30 s, `spark.graft.tablelog.lockWaitMs`):
    // concurrent locked mutators serialize and all land instead of the
    // second failing fast — multi-writer maintenance (delete + optimize)
    // just works; only a dead holder exhausts the wait
    IndexOps.withMutationLock(spark, path, s"TableLog.$op",
      spark.conf.get("spark.graft.tablelog.lockWaitMs", "30000").toLong) {
      // every locked mutator recomputes from latestVersion, so a
      // stolen version (a lock-free optimistic appender landed v+1
      // first) retries the WHOLE mutation against the new latest —
      // the write-serializable outcome (a retried delete also covers
      // the appended rows). Bounded; exhaustion propagates the race.
      withStealRetry(op)(body)
    }

  /** Rewrite maintenance on partitioned tables would have to re-route
    * every rewritten row into its hive directory and re-record its
    * partition values — out of scope for now; refuse loudly rather
    * than silently flattening the layout.
    */
  private def requireUnpartitioned(m: Manifest, op: String): Unit =
    require(m.partCols.isEmpty,
      s"TableLog.$op: not supported on a partitioned table (partition " +
        s"columns: ${m.partCols.mkString(", ")}) — use appendPartitioned / " +
        "read / readPartition")

  /** Are all `cols` deterministic expressions? Decided by ANALYZING
    * them against a zero-row frame of `shape` (Spark 4 Columns carry
    * unresolved nodes — `rand()` is an UnresolvedFunction until the
    * analyzer runs, so determinism is only knowable post-analysis;
    * zero rows means zero execution). Unanalyzable columns report
    * false — the caller takes the single-evaluation path and the real
    * analysis error surfaces at use.
    *
    * Current-time expressions (`current_timestamp()`, `now()`,
    * `current_date()`, ...) REPORT deterministic — they are, within
    * one query, because ComputeCurrentTime stamps them per-query. But
    * the callers here run DISCOVERY and REWRITE as separate queries,
    * each stamped with its own clock, so a time-relative predicate
    * could match a different row set in the rewrite than discovery
    * found. Classify them non-deterministic: they take the
    * single-evaluation (localCheckpoint) path, where the predicate is
    * evaluated exactly once.
    */
  private[operators] def allDeterministic(
      spark: SparkSession, shape: org.apache.spark.sql.types.StructType,
      cols: Seq[Column]): Boolean =
    cols.isEmpty || {
      import org.apache.spark.sql.catalyst.expressions.{
        CurrentDate, CurrentTimestamp, CurrentTimeZone, LocalTimestamp, Now}
      val frame = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], shape)
      cols.forall { c =>
        try {
          val exprs = frame.select(c).queryExecution.analyzed.expressions
          exprs.forall(_.deterministic) && !exprs.exists(_.exists {
            case _: CurrentTimestamp | _: CurrentDate | _: Now |
                 _: LocalTimestamp | _: CurrentTimeZone => true
            case _ => false
          })
        } catch { case scala.util.control.NonFatal(_) => false }
      }
    }

  /** Schema evolution rule: appends may ADD columns; same-name
    * columns must keep their type (retypes/renames are a rewrite,
    * not an append). Everything goes nullable — old rows lack the
    * new columns, and an evolved batch may omit old ones.
    */
  private def mergedSchema(
      cur: Option[org.apache.spark.sql.types.StructType],
      incoming: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = cur match {
    case None => incoming
    case Some(base) =>
      val byName = base.fields.map(f => f.name -> f).toMap
      incoming.fields.foreach { f =>
        byName.get(f.name).foreach { ex =>
          require(ex.dataType == f.dataType,
            s"TableLog: column ${f.name} type would change " +
              s"${ex.dataType} -> ${f.dataType} — appends add columns, " +
              "never retype; rewrite the table instead")
        }
      }
      val added = incoming.fields.filterNot(f => byName.contains(f.name))
      org.apache.spark.sql.types.StructType(
        (base.fields ++ added).map(_.copy(nullable = true)))
  }

  /** ALTER TABLE ADD COLUMN(S): commit the WIDENED schema as a new
    * version — a pure manifest operation (zero data IO; the file list
    * carries over by name). Old rows read NULL in the added columns
    * exactly as append-time evolution's would ([[mergedSchema]] is
    * the same add-only rule); added columns are forced nullable for
    * that reason. Duplicate names refuse loudly (a retype is a
    * rewrite, never an ALTER).
    */
  def addColumns(
      spark: SparkSession, path: String,
      fields: Seq[org.apache.spark.sql.types.StructField]): Long =
    withLock(spark, path, "addColumns") {
      require(fields.nonEmpty, "TableLog.addColumns: no columns")
      val v = latestVersion(spark, path)
      checkNotVacuumed(spark, path, v)
      val cur = readManifestFull(spark, path, v)
      val schema = cur.schema.getOrElse(
        readFiles(spark, path, cur, cur.files).schema)
      val dup = fields.map(_.name).toSet & schema.fieldNames.toSet
      require(dup.isEmpty,
        s"TableLog.addColumns: columns already exist: ${dup.mkString(", ")}")
      require(!fields.exists(_.name.startsWith("#")),
        "TableLog.addColumns: '#' prefix is reserved")
      val widened = org.apache.spark.sql.types.StructType(
        schema.fields ++ fields.map(_.copy(nullable = true)))
      val nv = commitFull(spark, path, v + 1, cur.copy(
        tag = None, schema = Some(widened)))
      maybeWriteChanges(spark, path, v, nv,
        Some(emptyChanges(spark, path, cur)))
      nv
    }

  /** Create the table (version 1). Fails if a log already exists. */
  def create(spark: SparkSession, path: String, df: DataFrame): Long =
    withLock(spark, path, "create") {
      require(versions(spark, path).isEmpty,
        s"TableLog: table already exists at $path")
      val (names, stats) = writeDataFiles(spark, path, df)
      commit(spark, path, 1L, names, stats, schema = Some(df.schema))
    }

  /** CREATE TABLE without data: version 1 is an empty manifest
    * carrying only the schema (and partition columns) — the SQL
    * catalog's `CREATE TABLE tablelog.` surface. The first
    * append/appendPartitioned lands rows under the declared shape.
    */
  def createEmpty(
      spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType,
      partCols: Seq[String] = Nil): Long =
    withLock(spark, path, "createEmpty") {
      require(versions(spark, path).isEmpty,
        s"TableLog: table already exists at $path")
      val missing = partCols.filterNot(c => schema.fieldNames.contains(c))
      require(missing.isEmpty,
        s"TableLog.createEmpty: partition columns not in schema: ${missing.mkString(", ")}")
      // partition columns LAST, matching writeDataFilesPartitioned's
      // recorded shape so the first appendPartitioned merges cleanly
      val ordered = org.apache.spark.sql.types.StructType(
        schema.fields.filterNot(f => partCols.contains(f.name)) ++
          partCols.map(c => schema.fields(schema.fieldIndex(c))))
      commitFull(spark, path, 1L,
        Manifest(None, Nil, Map.empty, Some(ordered), partCols, Map.empty))
    }

  /** Hive-style percent-escaping of partition dir names, matching
    * what Spark's partitioned writer emits — decoded here so manifest
    * partition VALUES compare against caller-supplied literals.
    */
  private def unescapePathName(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Stage a partitioned write: `df.write.partitionBy(partCols)` into
    * scratch, move each leaf file into `data/` KEEPING its hive
    * partition directories, and record per-file partition values.
    * Returns (relative paths, footer stats, per-file partition
    * values). The recorded schema puts partition columns LAST (where
    * Spark's partition recovery appends them).
    */
  private def writeDataFilesPartitioned(
      spark: SparkSession, path: String, df: DataFrame,
      partCols: Seq[String])
      : (Seq[String], Map[String, Map[String, ColBound]],
        Map[String, Seq[String]]) = {
    val f = fs(spark, path)
    val scratch = new Path(s"$path/_scratch_${java.util.UUID.randomUUID()}")
    df.write.mode("overwrite").partitionBy(partCols: _*)
      .parquet(scratch.toString)
    f.mkdirs(dataDir(path))
    val it = f.listFiles(scratch, true)
    val staged = scala.collection.mutable.ArrayBuffer.empty[Path]
    while (it.hasNext) {
      val s = it.next()
      if (s.isFile && s.getPath.getName.endsWith(".parquet"))
        staged += s.getPath
    }
    val scratchUri = scratch.toUri.getPath
    val rels = staged.toSeq.map { p =>
      val rel = p.toUri.getPath.stripPrefix(scratchUri).stripPrefix("/")
      val segs = rel.split('/').dropRight(1)
      require(segs.length == partCols.length &&
        segs.zip(partCols).forall { case (seg, c) => seg.startsWith(c + "=") },
        s"TableLog: unexpected partition layout at $rel (want ${partCols.mkString("/")})")
      val vals = segs.map(seg => unescapePathName(seg.split("=", 2)(1))).toSeq
      (p, rel, vals)
    }
    val names = perFile(rels) { case (p, rel, _) =>
      val dest = new Path(dataDir(path), rel)
      f.mkdirs(dest.getParent)
      require(f.rename(p, dest), s"TableLog: could not stage data file $rel")
      rel
    }
    val stats = harvestStats(spark, path, names)
    val parts = rels.map { case (_, rel, vals) => rel -> vals }.toMap
    f.delete(scratch, true)
    (names, stats, parts)
  }

  /** Order a schema data-columns-first, partition-columns-last — the
    * order a partitioned scan yields.
    */
  private def partitionedSchema(
      df: DataFrame, partCols: Seq[String]): org.apache.spark.sql.types.StructType = {
    val byName = df.schema.fields.map(f => f.name -> f).toMap
    partCols.foreach(c => require(byName.contains(c),
      s"TableLog: partition column $c not in the batch"))
    org.apache.spark.sql.types.StructType(
      df.schema.fields.filterNot(f => partCols.contains(f.name)) ++
        partCols.map(byName(_)))
  }

  /** Create a hive-partitioned table (version 1): one directory level
    * per partition column, per-file partition VALUES recorded in the
    * manifest (the Iceberg partition-record shape), so
    * [[readPartition]]/[[readPartitionBand]] prune files on partition
    * EQUALITY from one manifest read — before bounds, before any
    * listing. Reads recover the partition columns from the directory
    * names in a single scan. Rewrite maintenance (compact/optimize/
    * delete) is refused on partitioned tables for now — append with
    * [[appendPartitioned]], read with [[read]].
    */
  def createPartitioned(
      spark: SparkSession, path: String, df: DataFrame,
      partCols: Seq[String]): Long =
    withLock(spark, path, "createPartitioned") {
      require(partCols.nonEmpty, "TableLog.createPartitioned: no partition columns")
      require(versions(spark, path).isEmpty,
        s"TableLog: table already exists at $path")
      val (names, stats, parts) =
        writeDataFilesPartitioned(spark, path, df, partCols)
      commitFull(spark, path, 1L, Manifest(None, names, stats,
        Some(partitionedSchema(df, partCols)), partCols, parts))
    }

  /** Append a batch into a partitioned table (same partition columns;
    * schema evolution rules as [[append]]).
    */
  def appendPartitioned(spark: SparkSession, path: String, df: DataFrame): Long =
    withLock(spark, path, "appendPartitioned") {
      val v = latestVersion(spark, path)
      val cur = readManifestFull(spark, path, v)
      require(cur.partCols.nonEmpty,
        "TableLog.appendPartitioned: table is not partitioned — use append")
      val base = cur.schema.orElse(
        Some(readFiles(spark, path, cur, cur.files).schema))
      val merged = mergedSchema(base, partitionedSchema(df, cur.partCols))
      val (names, stats, parts) =
        writeDataFilesPartitioned(spark, path, df, cur.partCols)
      commitFull(spark, path, v + 1, cur.copy(
        files = cur.files ++ names, stats = cur.stats ++ stats,
        schema = Some(merged), parts = cur.parts ++ parts, tag = None))
    }

  /** Manifest partition pruning: files of version `v` whose recorded
    * partition values match every (col -> value) in `eq` — decided
    * from ONE manifest read, zero listings, zero footers.
    */
  def partitionFiles(
      spark: SparkSession, path: String, eq: Map[String, String],
      version: Option[Long] = None): Seq[String] = {
    val v = version.getOrElse(latestVersion(spark, path))
    checkNotVacuumed(spark, path, v)
    val m = readManifestFull(spark, path, v)
    require(m.partCols.nonEmpty, "TableLog.partitionFiles: table is not partitioned")
    val unknown = eq.keySet -- m.partCols.toSet
    require(unknown.isEmpty,
      s"TableLog.partitionFiles: not partition columns: ${unknown.mkString(", ")}")
    val idx = m.partCols.zipWithIndex.toMap
    m.files.filter { n =>
      m.parts.get(n) match {
        case None => true // no record: conservative keep
        case Some(vals) => eq.forall { case (c, want) => vals(idx(c)) == want }
      }
    }
  }

  /** Partition-equality read: semantically
    * `read(version).where(eq conjunction)`, file list cut to the
    * matching partitions from the manifest. The residual predicate
    * still applies (defense in depth; partition values are file-level
    * truth, so it filters nothing).
    */
  def readPartition(
      spark: SparkSession, path: String, eq: Map[String, String],
      version: Option[Long] = None): DataFrame = {
    val v = version.getOrElse(latestVersion(spark, path))
    val kept = partitionFiles(spark, path, eq, Some(v))
    val m = readManifestFull(spark, path, v)
    val pred = eq.map { case (c, want) => col(c) === lit(want) }
      .reduce(_ && _)
    if (kept.isEmpty) emptyFrame(spark, path, m)
    else readFilesDv(spark, path, m, kept).where(pred)
  }

  /** OPTIMIZE one partition of a partitioned table — `OPTIMIZE WHERE
    * partition = ...`, the maintenance move a partitioned ingest tail
    * needs: recluster exactly the files of the partition pinned by
    * `eq` (every partition column), range-sorted on `colName`; every
    * other partition's files carry over BY NAME with their stats and
    * partition records, zero IO. The rewritten files stay under the
    * partition's hive directory, so reads and partition pruning are
    * unchanged; the rewrite cost is one partition, never the table.
    */
  def optimizePartition(
      spark: SparkSession, path: String, eq: Map[String, String],
      colName: String, numFiles: Int): Long =
    withLock(spark, path, "optimizePartition") {
      require(numFiles > 0, "TableLog.optimizePartition: numFiles must be positive")
      val v = latestVersion(spark, path)
      checkNotVacuumed(spark, path, v)
      val m = readManifestFull(spark, path, v)
      require(m.partCols.nonEmpty,
        "TableLog.optimizePartition: table is not partitioned — use optimizeRange")
      require(m.partCols.toSet == eq.keySet,
        s"TableLog.optimizePartition: eq must pin every partition column " +
          s"(${m.partCols.mkString(", ")})")
      require(!eq.keySet.contains(colName),
        "TableLog.optimizePartition: cluster on a data column, not a partition column")
      val idx = m.partCols.zipWithIndex.toMap
      val touched = m.files.filter { n =>
        m.parts.get(n).exists(vals =>
          eq.forall { case (c, want) => vals(idx(c)) == want })
      }
      def done(nv: Long): Long = {
        maybeWriteChanges(spark, path, v, nv,
          Some(emptyChanges(spark, path, m)))
        nv
      }
      if (touched.isEmpty)
        done(commitFull(spark, path, v + 1, m.copy(tag = None)))
      else {
        val untouchedSet = touched.toSet
        val untouched = m.files.filterNot(untouchedSet.contains)
        // all touched files share the partition's hive dir — reuse it
        // verbatim (no re-escaping of partition values). Deletion
        // vectors of the touched files FOLD into the rewrite (the
        // DV-applied read) and their entries drop from the manifest.
        val subdir = touched.head.split('/').dropRight(1).mkString("/")
        val clustered = readFilesDv(spark, path, m, touched)
          .drop(m.partCols: _*)
          .repartitionByRange(numFiles, col(colName))
          .sortWithinPartitions(colName)
        val (names, stats) = writeDataFilesInto(spark, path, clustered,
          Some(subdir))
        val vals = m.parts(touched.head)
        done(commitFull(spark, path, v + 1, m.copy(
          tag = None,
          files = untouched ++ names,
          stats = m.stats.filterNot { case (k, _) =>
            untouchedSet.contains(k) } ++ stats,
          parts = (m.parts -- touched) ++ names.map(_ -> vals).toMap,
          dvs = m.dvs -- touched,
          eqd = eqAfterDrop(m, touched)._1,
          eqBorn = eqAfterDrop(m, touched)._2)))
      }
    }

  /** Partition equality COMPOSED with a stats band — Delta partition
    * pruning + file skipping in one manifest decision: keep files
    * matching the partition AND overlapping [lower, upper] on
    * `colName` (partition equality tested FIRST — cheaper, and it is
    * exact while bounds are conservative).
    */
  def readPartitionBand(
      spark: SparkSession, path: String, eq: Map[String, String],
      colName: String, lower: Any, upper: Any,
      version: Option[Long] = None): DataFrame = {
    val v = version.getOrElse(latestVersion(spark, path))
    val m = readManifestFull(spark, path, v)
    val inPart = partitionFiles(spark, path, eq, Some(v)).toSet
    val kept = bandFiles(spark, path, colName, lower, upper, Some(v))
      .filter(inPart.contains)
    val pred = eq.map { case (c, want) => col(c) === lit(want) }
      .reduce(_ && _) &&
      col(colName) >= lit(lower) && col(colName) <= lit(upper)
    if (kept.isEmpty) emptyFrame(spark, path, m)
    else readFilesDv(spark, path, m, kept).where(pred)
  }

  /** Append rows as a new version (old files + new files). The batch
    * may carry NEW columns (schema evolution): the committed schema
    * is the by-name union, old rows read back NULL in the added
    * columns, and a batch missing old columns reads back NULL there —
    * types never silently change ([[mergedSchema]]).
    */
  def append(spark: SparkSession, path: String, df: DataFrame): Long =
    withLock(spark, path, "append") {
      val v = latestVersion(spark, path)
      val cur = readManifestFull(spark, path, v)
      requireUnpartitioned(cur, "append")
      val base = cur.schema.orElse(
        Some(readFiles(spark, path, cur, cur.files).schema))
      // validate the evolution BEFORE the data write: a refused
      // retype must fail before paying a full batch of IO and
      // stranding orphan files until vacuum
      val merged = mergedSchema(base, df.schema)
      val (names, stats) = writeDataFiles(spark, path, df)
      commitFull(spark, path, v + 1, cur.copy(tag = None,
        files = cur.files ++ names, stats = cur.stats ++ stats,
        schema = Some(merged)))
    }

  /** INSERT OVERWRITE (truncate flavor): REPLACE the table's contents
    * with `df` as one committed version — the manifest lists only the
    * new files; the old version stays readable (time travel) until
    * [[vacuum]]. Schema follows the append evolution rules
    * ([[mergedSchema]]: adds allowed, retypes refused). An EMPTY
    * overwrite is the all-rows delete and stays refused. Partitioned
    * tables overwrite wholesale here; per-partition replacement is
    * [[overwritePartitionsDynamic]].
    */
  def overwrite(spark: SparkSession, path: String, df: DataFrame): Long =
    withLock(spark, path, "overwrite") {
      val v = latestVersion(spark, path)
      checkNotVacuumed(spark, path, v)
      val cur = readManifestFull(spark, path, v)
      val base = cur.schema.orElse(
        Some(readFiles(spark, path, cur, cur.files).schema))
      // a zero-row batch still emits one empty parquet part file, so
      // the empty-file-list guard in commitTryFull alone never fires:
      // enforce the all-rows-delete refusal on the HARVESTED row
      // counts (checked post-write — the batch is evaluated exactly
      // once; the staged files become age-gated vacuum orphans).
      // DOCUMENTED DIVERGENCE from upstream INSERT OVERWRITE (where a
      // zero-row SELECT legitimately truncates): an accidental empty
      // overwrite is irreversible data loss past retention, so the
      // truncate semantics are OPT-IN via
      // spark.graft.tablelog.allowEmptyOverwrite=true
      def requireRows(stats: Map[String, Map[String, ColBound]]): Unit =
        require(
          spark.conf.get("spark.graft.tablelog.allowEmptyOverwrite", "false")
            .toBoolean ||
            stats.valuesIterator
              .flatMap(_.get(RowsKey)).map(_.min.toLong).sum > 0L,
          "TableLog.overwrite: refusing an EMPTY overwrite (an all-rows " +
            "delete; use deleteWhere, drop the table, or set " +
            "spark.graft.tablelog.allowEmptyOverwrite=true for the " +
            "standard truncate semantics)")
      if (cur.partCols.isEmpty) {
        val merged = mergedSchema(base, df.schema)
        val (names, stats) = writeDataFiles(spark, path, df)
        requireRows(stats)
        val nv = commitFull(spark, path, v + 1, cur.copy(
          tag = None, files = names, stats = stats, schema = Some(merged),
          dvs = Map.empty, eqd = Nil, eqBorn = Map.empty))
        maybeWriteChanges(spark, path, v, nv)
        nv
      } else {
        val merged = mergedSchema(base, partitionedSchema(df, cur.partCols))
        val (names, stats, parts) =
          writeDataFilesPartitioned(spark, path, df, cur.partCols)
        requireRows(stats)
        val nv = commitFull(spark, path, v + 1, cur.copy(
          tag = None, files = names, stats = stats, schema = Some(merged),
          parts = parts, dvs = Map.empty, eqd = Nil, eqBorn = Map.empty))
        maybeWriteChanges(spark, path, v, nv)
        nv
      }
    }

  /** Dynamic partition overwrite (Spark's
    * `partitionOverwriteMode=dynamic`, Delta's `replaceWhere` on
    * partition values): replace exactly the partitions PRESENT in the
    * batch — their old files leave the manifest (zero IO for the
    * untouched partitions, which carry over by name), the batch's
    * files land under their hive dirs. The classic idempotent
    * partition-reload shape for a 100 TB ingest: re-running a day's
    * load replaces that day, touches nothing else.
    */
  def overwritePartitionsDynamic(
      spark: SparkSession, path: String, df: DataFrame): Long =
    withLock(spark, path, "overwritePartitionsDynamic") {
      val v = latestVersion(spark, path)
      checkNotVacuumed(spark, path, v)
      val cur = readManifestFull(spark, path, v)
      require(cur.partCols.nonEmpty,
        "TableLog.overwritePartitionsDynamic: table is not partitioned — " +
          "use overwrite")
      val base = cur.schema.orElse(
        Some(readFiles(spark, path, cur, cur.files).schema))
      val merged = mergedSchema(base, partitionedSchema(df, cur.partCols))
      val (names, stats, parts) =
        writeDataFilesPartitioned(spark, path, df, cur.partCols)
      val touched = parts.values.toSet
      val dropped = cur.files.filter(n =>
        cur.parts.get(n).exists(touched.contains)).toSet
      val nv = commitFull(spark, path, v + 1, cur.copy(
        tag = None,
        files = cur.files.filterNot(dropped.contains) ++ names,
        stats = cur.stats.filterNot { case (k, _) =>
          dropped.contains(k) } ++ stats,
        schema = Some(merged),
        parts = (cur.parts -- dropped) ++ parts, dvs = cur.dvs -- dropped,
        eqd = eqAfterDrop(cur, dropped)._1,
        eqBorn = eqAfterDrop(cur, dropped)._2))
      maybeWriteChanges(spark, path, v, nv)
      nv
    }

  /** Optimistic-concurrency append — the Delta append-append rule.
    * Stages the batch's data files ONCE (invisible until a manifest
    * references them), then retries the version CAS: read the latest
    * manifest, REBASE the new file names onto it, attempt the commit;
    * on losing the race, re-read and retry. Appends commute with
    * every commit kind (they only ADD files a concurrent
    * delete/optimize/restore never saw), so the rebase is always
    * valid. Unlike [[append]], NO table lock is taken: two concurrent
    * appenders BOTH land, as consecutive versions. Non-append
    * mutators still serialize behind the lock and fail loudly if an
    * optimistic appender steals their version (delete/optimize do NOT
    * commute — aborting to orphans-for-vacuum is the correct loss).
    * Schema evolution is re-validated against the current base on
    * every attempt.
    */
  def appendOptimistic(
      spark: SparkSession, path: String, df: DataFrame,
      maxRetries: Int = 16): Long = {
    // validate the evolution BEFORE paying the data write
    val v0 = latestVersion(spark, path)
    val cur0 = readManifestFull(spark, path, v0)
    requireUnpartitioned(cur0, "appendOptimistic")
    val base0 = cur0.schema.orElse(
      Some(readFiles(spark, path, cur0, cur0.files).schema))
    mergedSchema(base0, df.schema)
    val (names, stats) = writeDataFiles(spark, path, df)
    var attempt = 0
    while (attempt < maxRetries) {
      val v = latestVersion(spark, path)
      val cur = readManifestFull(spark, path, v)
      val base = cur.schema.orElse(
        Some(readFiles(spark, path, cur, cur.files).schema))
      val merged = mergedSchema(base, df.schema)
      if (commitTryFull(spark, path, v + 1, cur.copy(tag = None,
        files = cur.files ++ names, stats = cur.stats ++ stats,
        schema = Some(merged)))) return v + 1
      attempt += 1
    }
    throw new IllegalStateException(
      s"TableLog.appendOptimistic: lost the commit race $maxRetries times " +
        s"at $path — staged files go to vacuum")
  }

  /** Lowest version still readable after the last vacuum (1 if never
    * vacuumed). Written BEFORE vacuum deletes anything, so the guard
    * in [[read]] holds even across a mid-vacuum crash.
    */
  def vacuumWatermark(spark: SparkSession, path: String): Long = {
    val f = fs(spark, path)
    val wp = watermarkPath(path)
    if (!f.exists(wp)) 1L
    else readSmallFile(spark, path, wp).trim.toLong
  }

  private def checkNotVacuumed(spark: SparkSession, path: String, v: Long): Unit = {
    val wm = vacuumWatermark(spark, path)
    require(v >= wm,
      s"TableLog: version $v vacuumed (oldest readable version is $wm) — " +
        "its manifest may survive a crashed vacuum but its data files are gone")
  }

  /** Read a file subset under a manifest's recorded schema: with a
    * schema in the log, Spark never opens a footer to plan (missing
    * columns — schema evolution — come back NULL); without one
    * (pre-schema manifests) the reader infers from footers as before.
    */
  private def readFiles(
      spark: SparkSession, path: String, m: Manifest,
      names: Seq[String]): DataFrame = {
    val files = names.map(n => new Path(dataDir(path), n).toString)
    // partitioned layout: basePath makes ONE scan recover the
    // partition columns from the hive directory names — never a
    // per-partition union of scans
    val rd =
      if (m.partCols.isEmpty) spark.read
      else spark.read.option("basePath", dataDir(path).toString)
    m.schema match {
      case Some(sc) => rd.schema(sc).parquet(files: _*)
      case None => rd.parquet(files: _*)
    }
  }

  /** Zero-row frame in a manifest's shape WITHOUT enumerating its
    * files: with a recorded schema the frame is built directly from
    * it (zero file IO — at 100k files a `where(false)` over the full
    * list would still make the planner enumerate, and for pre-schema
    * manifests footer-read, every pruned file, defeating total
    * pruning exactly when it wins most); pre-schema manifests read
    * ONE file under `lit(false)` to recover the shape.
    */
  private def emptyFrame(
      spark: SparkSession, path: String, m: Manifest): DataFrame = m.schema match {
    case Some(sc) =>
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sc)
    case None =>
      readFiles(spark, path, m, m.files.take(1)).where(lit(false))
  }

  /** Is any of `names` carrying a deletion vector in `m`? */
  private def anyDv(m: Manifest, names: Seq[String]): Boolean =
    m.dvs.nonEmpty && names.exists(n => m.dvs.get(n).exists(_.nonEmpty))

  /** The live equality-delete sidecars that apply to at least one of
    * `names` under `m` (a sidecar applies to a file iff the file was
    * live when it committed: born mark <= sidecar seq).
    */
  private def liveEqFor(m: Manifest, names: Seq[String]): Seq[EqDelete] =
    if (m.eqd.isEmpty) Nil
    else {
      val borns = names.flatMap(m.eqBorn.get)
      if (borns.isEmpty) Nil
      else { val minBorn = borns.min; m.eqd.filter(_.seq >= minBorn) }
    }

  private def anyEq(m: Manifest, names: Seq[String]): Boolean =
    liveEqFor(m, names).nonEmpty

  /** The eq-delete sidecar dirs applicable to file `n` under `m` —
    * the equality-side component of a file's visibility identity
    * ([[diff]] cancels a shared file only when BOTH sides match).
    */
  private def eqDirsFor(m: Manifest, n: String): Set[String] =
    m.eqBorn.get(n) match {
      case Some(b) => m.eqd.collect { case e if e.seq >= b => e.dir }.toSet
      case None => Set.empty
    }

  /** Manifest eq-state after `removed` files leave (a rewrite folds
    * their equality deletes into the rewritten bytes, a delete just
    * drops them): born marks drop, and sidecars no surviving file can
    * see leave the live list (bytes stay for time travel until
    * [[vacuum]]).
    */
  private def eqAfterDrop(m: Manifest, removed: Iterable[String])
      : (Seq[EqDelete], Map[String, Long]) =
    if (m.eqd.isEmpty && m.eqBorn.isEmpty) (m.eqd, m.eqBorn)
    else {
      val removedSet = removed.toSet
      val born = m.eqBorn.filterNot { case (f, _) => removedSet.contains(f) }
      if (born.isEmpty) (Nil, Map.empty)
      else {
        val minBorn = born.valuesIterator.min
        (m.eqd.filter(_.seq >= minBorn), born)
      }
    }

  /** The scan-side twin of [[relName]]: a file's data/-relative path
    * from the `_metadata.file_path` column. Everything after the LAST
    * `/data/` is the relative name — sound because hive components are
    * `col=value` with slashes ESCAPED in values
    * (ExternalCatalogUtils.escapePathName), so `/data/` cannot occur
    * inside the relative part, and a table path containing `/data/`
    * only adds EARLIER occurrences.
    */
  private def relNameCol(c: Column): Column =
    substring_index(c, "/data/", -1)

  /** One frame of (data/-relative file name, pos) over every DV
    * sidecar dir referenced by `names` in `m` — the dead positions.
    * Broadcast when the sidecar bytes are small (the common state
    * between a point delete and the next OPTIMIZE); rows for files
    * outside `names` (dirs are shared across files of one delete
    * commit) are harmless: the anti-join keys on name+pos, so they
    * match nothing.
    */
  private def dvPosFrame(
      spark: SparkSession, path: String, m: Manifest,
      names: Seq[String]): Option[DataFrame] = {
    val dirs = names.flatMap(n => m.dvs.getOrElse(n, Nil)).distinct.sorted
    if (dirs.isEmpty) None
    else {
      val f = fs(spark, path)
      val paths = dirs.map(d => new Path(dvDir(path), d))
      val bytes = paths.map(p => f.getContentSummary(p).getLength).sum
      val df = spark.read.parquet(paths.map(_.toString): _*)
      Some(if (bytes < 32L * 1024 * 1024) broadcast(df) else df)
    }
  }

  /** [[readFiles]] with `m`'s deletion vectors APPLIED, keeping two
    * service columns the mutators need: `_tl_file` (the scan's
    * absolute file path) and `_tl_pos` (the row's position in its
    * file). Dead positions leave via a broadcast anti-join on
    * (data/-relative name, pos) — the manifest's own file namespace
    * (basenames alone repeat across hive dirs: Spark's dynamic writer
    * reuses part-NNNNN-<jobUuid> in every partition directory).
    */
  private def readFilesDvMeta(
      spark: SparkSession, path: String, m: Manifest,
      names: Seq[String]): DataFrame = {
    val base = readFiles(spark, path, m, names)
      .withColumn("_tl_file", col("_metadata.file_path"))
      .withColumn("_tl_pos", col("_metadata.row_index"))
    val dvApplied =
      if (!anyDv(m, names)) base
      else {
        val dv = dvPosFrame(spark, path, m, names).get
          .select(col("file").as("_tl_dvf"), col("pos").as("_tl_dvp"))
        base
          .withColumn("_tl_fname", relNameCol(col("_tl_file")))
          .join(dv,
            col("_tl_fname") === col("_tl_dvf") &&
              col("_tl_pos") === col("_tl_dvp"),
            "left_anti")
          .drop("_tl_fname")
      }
    applyEqDeletes(spark, path, m, names, dvApplied)
  }

  /** EQUALITY deletes applied to a frame carrying `_tl_file`: each
    * row joins its file's born mark (small broadcast name->seq
    * frame), then ONE anti-join per key-column signature removes rows
    * whose key tuple appears in a sidecar with `seq >= born` — the
    * sequence-number rule that scopes a delete to files that
    * pre-existed it, as one join regardless of how many
    * sidecar/file attachments exist (never a per-sidecar or per-file
    * join explosion). Rows of files with no born mark survive
    * untouched (NULL born fails the seq comparison). Sidecar frames
    * broadcast under the same 32 MB rule as deletion vectors; NULL
    * key values in data rows never match (delete keys are non-null
    * by the publish contract).
    */
  private def applyEqDeletes(
      spark: SparkSession, path: String, m: Manifest,
      names: Seq[String], base: DataFrame): DataFrame = {
    val live = liveEqFor(m, names)
    if (live.isEmpty) base
    else {
      import spark.implicits._
      val f = fs(spark, path)
      val bornF = broadcast(m.eqBorn.toSeq.toDF("_tl_ebf", "_tl_eborn"))
      var cur = base
        .withColumn("_tl_ername", relNameCol(col("_tl_file")))
        .join(bornF, col("_tl_ername") === col("_tl_ebf"), "left")
      live.groupBy(_.keyCols).toSeq.sortBy(_._1.mkString(",")).foreach {
        case (cols, group) =>
          val keys = group.map { e =>
            spark.read.parquet(eqPath(path, e.dir))
              .select(cols.map(col) :+ lit(e.seq).as("_tl_eseq"): _*)
          }.reduce(_ unionByName _)
          val bytes = group.map(e =>
            f.getContentSummary(new Path(eqDir(path), e.dir)).getLength).sum
          val k = if (bytes < 32L * 1024 * 1024) broadcast(keys) else keys
          val cond = cols.map(c => cur(c) === k(c)).reduce(_ && _) &&
            k("_tl_eseq") >= cur("_tl_eborn")
          cur = cur.join(k, cond, "left_anti")
      }
      cur.drop("_tl_ername", "_tl_ebf", "_tl_eborn")
    }
  }

  /** [[readFiles]] with deletion vectors AND equality deletes applied
    * — what every user-facing read serves. Tables without either take
    * the plain scan (no metadata columns materialized, no join).
    */
  private def readFilesDv(
      spark: SparkSession, path: String, m: Manifest,
      names: Seq[String]): DataFrame =
    if (!anyDv(m, names) && !anyEq(m, names)) readFiles(spark, path, m, names)
    else readFilesDvMeta(spark, path, m, names).drop("_tl_file", "_tl_pos")

  /** Read the table at `version` (default: latest). Hands Spark the
    * manifest's exact file list — no directory listing, orphans and
    * other versions' files invisible. A version below the vacuum
    * watermark fails fast here instead of mid-job FileNotFound.
    */
  def read(spark: SparkSession, path: String, version: Option[Long] = None): DataFrame =
    version match {
      case Some(v) =>
        checkNotVacuumed(spark, path, v)
        val m = readManifestFull(spark, path, v)
        readFilesDv(spark, path, m, m.files)
      case None =>
        // latest read off a fresh checkpoint plans from the
        // checkpoint's EMBEDDED manifest: zero manifest reads
        val ck = newestCkpt(spark, path)
        val v = latestFrom(spark, path, ck)
        checkNotVacuumed(spark, path, v)
        val m = ck match {
          case Some(c) if c.version == v && c.manifest.isDefined => c.manifest.get
          case _ => readManifestFull(spark, path, v)
        }
        readFilesDv(spark, path, m, m.files)
    }

  /** Immutable view of one version's manifest for external planners
    * (the DSv2 SQL catalog): file names relative to `data/`, per-file
    * column bounds, the resolved schema (footer-inferred for
    * pre-schema manifests), and the partition record. The latest
    * version answers from a fresh log checkpoint when one exists —
    * same zero-manifest-read path as [[read]].
    */
  final case class Snapshot(
      version: Long,
      files: Seq[String],
      stats: Map[String, Map[String, ColBound]],
      schema: org.apache.spark.sql.types.StructType,
      partCols: Seq[String],
      parts: Map[String, Seq[String]],
      dvs: Map[String, Seq[String]] = Map.empty,
      eqd: Seq[EqDelete] = Nil,
      eqBorn: Map[String, Long] = Map.empty) {
    /** Any live deletion vector? Planners must compensate (or refuse
      * manifest-count shortcuts) when true.
      */
    def hasDvs: Boolean = dvs.exists(_._2.nonEmpty)

    /** Any live equality-delete sidecar applicable to a current file?
      * Planners must key-compensate (and refuse EVERY manifest-count
      * shortcut — unlike deletion vectors there is no per-file dead
      * count) when true.
      */
    def hasEqDeletes: Boolean =
      eqd.nonEmpty && files.exists(n =>
        eqBorn.get(n).exists(b => eqd.exists(_.seq >= b)))

    /** The equality-delete sidecars applicable to file `n` (the ones
      * whose seq is >= the file's born mark), in commit order.
      */
    def eqFor(n: String): Seq[EqDelete] = eqBorn.get(n) match {
      case Some(b) => eqd.filter(_.seq >= b)
      case None => Nil
    }
  }

  def snapshot(
      spark: SparkSession, path: String,
      version: Option[Long] = None): Snapshot = {
    def mk(v: Long, m: Manifest) = Snapshot(
      v, m.files, m.stats,
      m.schema.getOrElse(readFiles(spark, path, m, m.files).schema),
      m.partCols, m.parts, m.dvs, m.eqd, m.eqBorn)
    version match {
      case Some(v) =>
        checkNotVacuumed(spark, path, v)
        mk(v, readManifestFull(spark, path, v))
      case None =>
        val ck = newestCkpt(spark, path)
        val v = latestFrom(spark, path, ck)
        checkNotVacuumed(spark, path, v)
        val m = ck match {
          case Some(c) if c.version == v && c.manifest.isDefined => c.manifest.get
          case _ => readManifestFull(spark, path, v)
        }
        mk(v, m)
    }
  }

  /** Absolute data-directory path — where `Snapshot.files` resolve
    * (and the `basePath` a partitioned scan needs to recover the
    * hive columns).
    */
  def dataPath(path: String): String = dataDir(path).toString

  /** Absolute path of one deletion-vector sidecar dir — where
    * `Snapshot.dvs` values resolve (the SQL scan's executor-side DV
    * loader reads them without a SparkSession).
    */
  def dvPath(path: String, dir: String): String =
    new Path(dvDir(path), dir).toString

  /** Absolute path of one equality-delete sidecar dir — where
    * `Snapshot.eqd` entries resolve (the SQL scan's executor-side
    * key-set loader reads them without a SparkSession).
    */
  def eqPath(path: String, dir: String): String =
    new Path(eqDir(path), dir).toString

  /** Absolute path of version `v`'s materialized change dir (exists
    * only when `spark.graft.tablelog.writeChangeFiles` was on at commit
    * time) — what the SQL `$changes` streaming source plans from.
    */
  def changesPath(path: String, v: Long): String =
    changePath(path, v).toString

  /** Manifest-level file pruning: names of version `v`'s files whose
    * recorded [min,max] for `colName` overlaps [lower, upper] — plus
    * every file with no recorded bound for the column (conservative).
    * Decided entirely from the manifest: zero parquet footer opens.
    */
  def bandFiles(
      spark: SparkSession, path: String, colName: String,
      lower: Any, upper: Any, version: Option[Long] = None): Seq[String] = {
    val v = version.getOrElse(latestVersion(spark, path))
    checkNotVacuumed(spark, path, v)
    val m = readManifestFull(spark, path, v)
    m.files.filter { n =>
      m.stats.get(n).flatMap(_.get(colName)) match {
        case None => true
        case Some(b) => overlaps(b, lower, upper)
      }
    }
  }

  private def overlaps(b: ColBound, lower: Any, upper: Any): Boolean =
    boundReachesUpTo(b, lower) && boundReachesDownTo(b, upper)

  /** One-sided bound tests for external planners (the SQL catalog's
    * pushed `>=`/`>` and `<=`/`<` filters): may the file contain a
    * value >= `lower` (resp. <= `upper`)? Same kind semantics and
    * same conservative never-prune on unconvertible values as the
    * two-sided band test.
    */
  private[graft] def boundReachesUpTo(b: ColBound, lower: Any): Boolean =
    try b.kind match {
      case "l" => b.max.toLong >= anyToLong(lower)
      case "d" => b.max.toDouble >= anyToDouble(lower)
      case _ => utf8Compare(b.max, lower.toString) >= 0
    } catch {
      // band value not convertible to the recorded kind: never prune
      case _: NumberFormatException => true
    }

  private[graft] def boundReachesDownTo(b: ColBound, upper: Any): Boolean =
    try b.kind match {
      case "l" => b.min.toLong <= anyToLong(upper)
      case "d" => b.min.toDouble <= anyToDouble(upper)
      case _ => utf8Compare(b.min, upper.toString) <= 0
    } catch {
      case _: NumberFormatException => true
    }

  private def anyToLong(a: Any): Long = a match {
    case i: Int => i.toLong
    case l: Long => l
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case s: String => s.toLong
    case other => throw new NumberFormatException(other.toString)
  }

  private def anyToDouble(a: Any): Double = a match {
    case d: Double => d
    case f: Float => f.toDouble
    case i: Int => i.toDouble
    case l: Long => l.toDouble
    case s: String => s.toDouble
    case other => throw new NumberFormatException(other.toString)
  }

  /** Band read served through manifest pruning: semantically equal to
    * `read(version).where(colName between lower and upper)`, but the
    * file list is cut against the manifest bounds BEFORE Spark plans
    * the scan. On a table clustered on `colName`
    * ([[optimizeRange]]/[[optimizeZOrder]]), a narrow band reads a
    * handful of files out of 100k without opening the rest's footers.
    * The residual predicate still applies (bounds are per-file, not
    * per-row).
    */
  def readBand(
      spark: SparkSession, path: String, colName: String,
      lower: Any, upper: Any, version: Option[Long] = None): DataFrame = {
    val v = version.getOrElse(latestVersion(spark, path))
    val pred = col(colName) >= lit(lower) && col(colName) <= lit(upper)
    val kept = bandFiles(spark, path, colName, lower, upper, Some(v))
    val m = readManifestFull(spark, path, v)
    if (kept.isEmpty) emptyFrame(spark, path, m)
    else readFilesDv(spark, path, m, kept).where(pred)
  }

  /** Compact the current version's files toward a row target as a new
    * version. Old files stay (time travel) until [[vacuum]].
    */
  def compact(spark: SparkSession, path: String, targetRowsPerFile: Long): Long =
    withLock(spark, path, "compact") {
      require(targetRowsPerFile > 0, "TableLog.compact: target must be positive")
      val v = latestVersion(spark, path)
      requireUnpartitioned(readManifestFull(spark, path, v), "compact")
      val cur = read(spark, path, Some(v))
      val rows = cur.count()
      val k = math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
      val src = read(spark, path, Some(v))
      val compacted = if (src.rdd.getNumPartitions >= k) src.coalesce(k)
        else src.repartition(k)
      val (names, stats) = writeDataFiles(spark, path, compacted)
      val m = readManifestFull(spark, path, v)
      val nv = commit(spark, path, v + 1, names, stats, schema = m.schema)
      maybeWriteChanges(spark, path, v, nv,
        Some(emptyChanges(spark, path, m)))
      nv
    }

  /** OPTIMIZE, range flavor: rewrite the latest version's rows
    * range-partitioned + sorted on `colName` as a NEW COMMITTED
    * VERSION — the [[StorageLayout.writeRangeClustered]] layout win
    * (tight near-disjoint per-file bounds; [[readBand]] then prunes
    * from the manifest) without the out-of-band directory rewrite:
    * the recluster is time-travelable and concurrent readers keep
    * reading the old version throughout.
    */
  def optimizeRange(
      spark: SparkSession, path: String, colName: String, numFiles: Int): Long =
    withLock(spark, path, "optimizeRange") {
      require(numFiles > 0, "TableLog.optimizeRange: numFiles must be positive")
      val v = latestVersion(spark, path)
      requireUnpartitioned(readManifestFull(spark, path, v), "optimizeRange")
      val clustered = read(spark, path, Some(v))
        .repartitionByRange(numFiles, col(colName))
        .sortWithinPartitions(colName)
      val (names, stats) = writeDataFiles(spark, path, clustered)
      val m = readManifestFull(spark, path, v)
      val nv = commit(spark, path, v + 1, names, stats, schema = m.schema)
      maybeWriteChanges(spark, path, v, nv,
        Some(emptyChanges(spark, path, m)))
      nv
    }

  /** OPTIMIZE, z-order flavor over k ≥ 2 numeric columns (Delta's
    * OPTIMIZE ZORDER as a committed version): equi-depth bucket
    * ranks, Morton-interleaved, range-partitioned + sorted — files
    * end up tight in EVERY listed dimension, so [[readBand]] on any
    * of them prunes from the manifest.
    */
  def optimizeZOrder(
      spark: SparkSession, path: String, cols: Seq[String],
      numFiles: Int, bits: Int = 8): Long =
    withLock(spark, path, "optimizeZOrder") {
      require(numFiles > 0, "TableLog.optimizeZOrder: numFiles must be positive")
      val v = latestVersion(spark, path)
      requireUnpartitioned(readManifestFull(spark, path, v), "optimizeZOrder")
      val df = read(spark, path, Some(v))
      val zv = StorageLayout.zValueN(
        cols.map(c => StorageLayout.equiDepthBucket(df, c, bits)), bits)
      val clustered = df.withColumn("_tl_z", zv)
        .repartitionByRange(numFiles, col("_tl_z"))
        .sortWithinPartitions("_tl_z")
        .drop("_tl_z")
      val (names, stats) = writeDataFiles(spark, path, clustered)
      val m = readManifestFull(spark, path, v)
      val nv = commit(spark, path, v + 1, names, stats, schema = m.schema)
      maybeWriteChanges(spark, path, v, nv,
        Some(emptyChanges(spark, path, m)))
      nv
    }

  /** Incremental OPTIMIZE (Delta's `OPTIMIZE WHERE`): recluster ONLY
    * the files whose recorded bounds overlap [lower, upper] on
    * `colName` (plus files with no recorded bound — conservative),
    * range-partitioned + sorted on the column; every other file
    * carries over BY NAME with its stats, zero IO. Whole files are
    * rewritten, so content is exactly preserved even when a touched
    * file also holds rows outside the band. This is the only
    * OPTIMIZE a 100 TB table can afford on a steady-state ingest
    * tail: the rewrite cost is proportional to the MESSY REGION
    * (yesterday's appends), not the table.
    */
  def optimizeRangeWhere(
      spark: SparkSession, path: String, colName: String,
      lower: Any, upper: Any, numFiles: Int): Long =
    withLock(spark, path, "optimizeRangeWhere") {
      require(numFiles > 0, "TableLog.optimizeRangeWhere: numFiles must be positive")
      val v = latestVersion(spark, path)
      checkNotVacuumed(spark, path, v)
      val m = readManifestFull(spark, path, v)
      requireUnpartitioned(m, "optimizeRangeWhere")
      val touchedSet = m.files.filter { n =>
        m.stats.get(n).flatMap(_.get(colName)) match {
          case None => true
          case Some(b) => overlaps(b, lower, upper)
        }
      }.toSet
      def done(nv: Long): Long = {
        maybeWriteChanges(spark, path, v, nv,
          Some(emptyChanges(spark, path, m)))
        nv
      }
      if (touchedSet.isEmpty)
        done(commitFull(spark, path, v + 1, m.copy(tag = None)))
      else {
        val (touched, untouched) = m.files.partition(touchedSet.contains)
        // touched files' deletion vectors fold into the rewrite
        val clustered = readFilesDv(spark, path, m, touched)
          .repartitionByRange(numFiles, col(colName))
          .sortWithinPartitions(colName)
        val (names, stats) = writeDataFiles(spark, path, clustered)
        done(commitFull(spark, path, v + 1, m.copy(
          tag = None,
          files = untouched ++ names,
          stats = m.stats.filterNot { case (k, _) =>
            touchedSet.contains(k) } ++ stats,
          dvs = m.dvs -- touched,
          eqd = eqAfterDrop(m, touched)._1,
          eqBorn = eqAfterDrop(m, touched)._2)))
      }
    }

  /** OPTIMIZE for POINT LOOKUPS on hash-scattered keys — the pruning
    * modality bounds cannot serve: on an unclustered high-cardinality
    * key every file's [min,max] spans the domain, so an equality
    * probe reads the whole table. Rewrites the latest version with
    * parquet-native BLOOM FILTERS on `bloomCols` (stored in each
    * file's footer region, consulted by the reader's row-group filter
    * when an Eq predicate is pushed down): a [[readPoint]] then
    * decodes ~one row group instead of the table, with zero manifest
    * growth — the blooms live in the files, exactly where Delta
    * stores its bloom index. Orthogonal to [[optimizeRange]]:
    * clustering serves RANGES on one ordering; blooms serve EQUALITY
    * on any listed column, layout-free.
    */
  def optimizeBloom(
      spark: SparkSession, path: String, bloomCols: Seq[String],
      numFiles: Int, expectedNdv: Long = 0L,
      extraWriterOptions: Map[String, String] = Map.empty): Long =
    withLock(spark, path, "optimizeBloom") {
      require(numFiles > 0, "TableLog.optimizeBloom: numFiles must be positive")
      require(bloomCols.nonEmpty, "TableLog.optimizeBloom: no columns")
      val v = latestVersion(spark, path)
      val m = readManifestFull(spark, path, v)
      requireUnpartitioned(m, "optimizeBloom")
      // dictionary-encoded chunks already serve equality through
      // parquet's dictionary filter; blooms take over past the
      // dictionary fallback threshold — exactly the high-cardinality
      // regime a 100 TB key column lives in (the duel spec emulates
      // the fallback by disabling the dictionary via
      // extraWriterOptions)
      val opts = bloomCols.flatMap { c =>
        Seq(s"parquet.bloom.filter.enabled#$c" -> "true") ++
          (if (expectedNdv > 0)
            Seq(s"parquet.bloom.filter.expected.ndv#$c" -> expectedNdv.toString)
          else Nil)
      }.toMap ++ extraWriterOptions
      val df = read(spark, path, Some(v)).repartition(numFiles)
      val (names, stats) =
        writeDataFilesInto(spark, path, df, None, opts)
      val nv = commit(spark, path, v + 1, names, stats, schema = m.schema)
      maybeWriteChanges(spark, path, v, nv,
        Some(emptyChanges(spark, path, m)))
      nv
    }

  /** Point lookup: `read(version).where(colName === value)` with the
    * file list cut against manifest bounds first (free; decisive on
    * clustered tables) — and on an [[optimizeBloom]]'d table the scan
    * itself skips row groups whose bloom excludes the value. The
    * predicate is pushed as a genuine EQUALITY (not the band's
    * `>= && <=` pair): parquet's bloom row-group filter only serves
    * Eq, so routing through [[readBand]] would decode everything.
    */
  def readPoint(
      spark: SparkSession, path: String, colName: String, value: Any,
      version: Option[Long] = None): DataFrame = {
    val v = version.getOrElse(latestVersion(spark, path))
    val kept = bandFiles(spark, path, colName, value, value, Some(v))
    val m = readManifestFull(spark, path, v)
    if (kept.isEmpty) emptyFrame(spark, path, m)
    else readFilesDv(spark, path, m, kept).where(col(colName) === lit(value))
  }

  /** The advisor loop closed (round-11 q184 → a committed version):
    * profile the CURRENT version, ask
    * [[StorageLayout.adviseLayout]] for the physical design, and
    * APPLY it — [[optimizeZOrder]] on (range_cluster, zorder_with)
    * when the advisor names a partner, [[optimizeRange]] on the
    * range_cluster column alone otherwise. Returns the new version,
    * the applied mode ("zorder" | "range") and the columns used.
    * Deterministic: the advisor's rules are integer/string ranks, so
    * the same table state always yields the same rewrite.
    */
  def autoOptimize(
      spark: SparkSession, path: String, clusterable: Seq[String],
      numFiles: Int, maxPartitions: Long = 20L,
      bits: Int = 8): (Long, String, Seq[String]) = {
    val cur = read(spark, path)
    val prof = TableProfile.profile(cur, cur.columns.toSeq)
    val advice = StorageLayout
      .adviseLayout(prof, clusterable, maxPartitions)
      .select(col("col_name"), col("role")).collect()
    val rc = advice.find(_.getString(1) == "range_cluster").map(_.getString(0))
    val zw = advice.find(_.getString(1) == "zorder_with").map(_.getString(0))
    (rc, zw) match {
      case (Some(a), Some(b)) =>
        (optimizeZOrder(spark, path, Seq(a, b), numFiles, bits),
          "zorder", Seq(a, b))
      case (Some(a), None) =>
        (optimizeRange(spark, path, a, numFiles), "range", Seq(a))
      case _ =>
        throw new IllegalArgumentException(
          "TableLog.autoOptimize: the advisor found no clusterable " +
            s"column among ${clusterable.mkString(", ")} — nothing to apply")
    }
  }

  /** Delete matching rows as a new version: untouched files carry
    * over BY NAME with their recorded bounds (zero IO — the manifest
    * layer's advantage over the directory-swap
    * [[StorageLayout.deleteWhere]], which must link or copy them),
    * touched files are rewritten without their matches. Works on
    * PARTITIONED tables too: the predicate may reference partition
    * columns (recovered by the read), and rewritten survivors route
    * back into their hive directories with fresh partition records.
    * Retries on a stolen version (concurrent optimistic append):
    * the recomputed delete also covers the appended rows.
    */
  def deleteWhere(spark: SparkSession, path: String, predicate: Column): Long =
    if (spark.conf.get("spark.graft.tablelog.deletionVectors", "false").toBoolean)
      deleteWhereDV(spark, path, predicate)
    else withLock(spark, path, "deleteWhere") {
      val v = latestVersion(spark, path)
      val cur = readManifestFull(spark, path, v)
      deleteCore(spark, path, v, cur, cur.files, predicate)
    }

  /** DELETE via DELETION VECTORS — merge-on-read, the Delta DV shape
    * (also routed from [[deleteWhere]] under
    * `spark.graft.tablelog.deletionVectors=true`, so SQL `DELETE FROM`
    * takes it too). Matched rows are recorded as (file basename,
    * position) in ONE parquet sidecar dir under `_dv/` and the commit
    * is manifest-only: the data files' bytes are untouched, so a
    * 1-row GDPR delete in a 1 GB file writes O(deleted rows), not
    * O(file) — at 100 TB with point deletes this is the dominant
    * write-amplification fix. Readers anti-join the positions out
    * ([[readFilesDv]]); every later rewrite of a vectored file
    * (update/merge/optimize/compact) FOLDS the vector in and drops the
    * entry; [[vacuum]] sweeps sidecars no retained manifest
    * references. Repeated deletes STACK (each commit appends a sidecar
    * per touched file); OPTIMIZE is the compaction that clears them.
    * Positions are evaluated over the VISIBLE rows (existing vectors
    * applied), so a position is never recorded twice; per-file bounds
    * stay as written — a conservative superset, still sound for
    * pruning — while logical counts ride in [[DvRowsKey]].
    *
    * The matched set is localCheckpointed ONCE: the sidecar write, the
    * per-file accounting, and the CDC change set all read the same
    * decision (a non-deterministic predicate cannot diverge).
    */
  def deleteWhereDV(spark: SparkSession, path: String, predicate: Column): Long =
    withLock(spark, path, "deleteWhereDV") {
      val v = latestVersion(spark, path)
      checkNotVacuumed(spark, path, v)
      val cur = readManifestFull(spark, path, v)
      dvDeleteCore(spark, path, v, cur, cur.files, predicate)
    }

  /** [[deleteBand]]'s merge-on-read twin (also routed from
    * [[deleteBand]] under `spark.graft.tablelog.deletionVectors=true`):
    * the CANDIDATE set comes from the manifest bounds, so on a table
    * clustered on `colName` a TTL/GDPR delete's DISCOVERY scan is
    * proportional to the band — and the write stays O(deleted rows)
    * (the sidecar), never a file rewrite. The 100 TB point/band-delete
    * shape: manifest-cut discovery × merge-on-read write.
    */
  def deleteBandDV(
      spark: SparkSession, path: String, colName: String,
      lower: Any, upper: Any): Long =
    withLock(spark, path, "deleteBandDV") {
      val v = latestVersion(spark, path)
      checkNotVacuumed(spark, path, v)
      val cur = readManifestFull(spark, path, v)
      val candidates = cur.files.filter { n =>
        cur.stats.get(n).flatMap(_.get(colName)) match {
          case None => true
          case Some(b) => overlaps(b, lower, upper)
        }
      }
      val pred = col(colName) >= lit(lower) && col(colName) <= lit(upper)
      if (candidates.isEmpty) {
        val nv = commitFull(spark, path, v + 1, cur.copy(tag = None))
        maybeWriteChanges(spark, path, v, nv,
          Some(emptyChanges(spark, path, cur)))
        nv
      } else dvDeleteCore(spark, path, v, cur, candidates, pred)
    }

  /** Publish a (file, pos) frame as ONE deletion-vector sidecar dir
    * (tmp + rename); returns the dir name for the manifest's `dvs`.
    */
  private def publishDvSidecar(
      spark: SparkSession, path: String, positions: DataFrame,
      op: String): String = {
    val f = fs(spark, path)
    val dirName = s"d-${java.util.UUID.randomUUID()}"
    val tmp = new Path(dvDir(path), s"_tmp_${java.util.UUID.randomUUID()}")
    positions.write.mode("overwrite").parquet(tmp.toString)
    f.mkdirs(dvDir(path))
    require(f.rename(tmp, new Path(dvDir(path), dirName)),
      s"TableLog.$op: sidecar publish failed")
    dirName
  }

  /** The manifest delta a fresh sidecar implies: per-touched-file
    * [[DvRowsKey]] accounting (logical rows = physical − this) and the
    * dir appended to each touched file's vector list.
    */
  private def dvManifestDelta(
      cur: Manifest, touched: Map[String, Long], dirName: String)
      : (Map[String, Map[String, ColBound]], Map[String, Seq[String]]) = {
    val newStats = touched.map { case (n, cnt) =>
      val st = cur.stats.getOrElse(n, Map.empty[String, ColBound])
      val total = dvRowsOf(cur, n) + cnt
      n -> (st + (DvRowsKey -> ColBound("l", total.toString, total.toString)))
    }
    val newDvs = touched.keys.map { n =>
      n -> (cur.dvs.getOrElse(n, Nil) :+ dirName)
    }.toMap
    (newStats, newDvs)
  }

  /** Shared merge-on-read delete engine: evaluate the predicate over
    * the candidates' VISIBLE rows once (localCheckpoint — the sidecar
    * write, accounting, and CDC all read the same decision), publish
    * the positions as one sidecar, commit manifest-only.
    */
  private def dvDeleteCore(
      spark: SparkSession, path: String, v: Long, cur: Manifest,
      candidates: Seq[String], predicate: Column): Long = {
    val schema = cur.schema.getOrElse(
      readFiles(spark, path, cur, cur.files).schema)
    val matched = readFilesDvMeta(spark, path, cur, candidates)
      .where(coalesce(predicate, lit(false)))
      .localCheckpoint(true)
    val perFile = matched
      .groupBy(col("_tl_file")).agg(count(lit(1)).as("_tl_n"))
      .collect().map(r => relName(path, r.getString(0)) -> r.getLong(1))
    if (perFile.isEmpty) {
      val nv = commitFull(spark, path, v + 1, cur.copy(tag = None))
      maybeWriteChanges(spark, path, v, nv,
        Some(emptyChanges(spark, path, cur)))
      nv
    } else {
      val dirName = publishDvSidecar(spark, path,
        matched.select(relNameCol(col("_tl_file")).as("file"),
          col("_tl_pos").as("pos")), "deleteWhereDV")
      val (dvStats, dvDirs) = dvManifestDelta(cur, perFile.toMap, dirName)
      val nv = commitFull(spark, path, v + 1, cur.copy(
        tag = None, stats = cur.stats ++ dvStats, dvs = cur.dvs ++ dvDirs))
      // CDC: the checkpointed matches ARE the removals, exactly
      maybeWriteChanges(spark, path, v, nv, Some(
        matched.select(schema.fieldNames.toSeq.map(col): _*)
          .withColumn("change", lit("removed"))))
      nv
    }
  }

  /** Compact DELETION-VECTOR sidecars: a point-delete-heavy table
    * accretes one sidecar dir per delete commit, and every read pays
    * a multi-path scan over all of them. This merges every referenced
    * sidecar into ONE dir and commits a manifest whose per-file dv
    * list is that single dir — ZERO data-file IO (the anti-OPTIMIZE:
    * [[optimizeRange]] folds vectors by rewriting data; this rewrites
    * only the vectors, O(dead positions)). Old sidecars stay for time
    * travel until [[vacuum]]. No-op version bump when nothing to
    * merge.
    */
  def compactDvs(spark: SparkSession, path: String): Long =
    withLock(spark, path, "compactDvs") {
      val v = latestVersion(spark, path)
      checkNotVacuumed(spark, path, v)
      val cur = readManifestFull(spark, path, v)
      val live = cur.dvs.filter(_._2.nonEmpty)
      if (live.isEmpty || live.values.flatten.toSet.size <= 1) {
        val nv = commitFull(spark, path, v + 1, cur.copy(tag = None))
        maybeWriteChanges(spark, path, v, nv,
          Some(emptyChanges(spark, path, cur)))
        nv
      } else {
        // keep only positions of files still referenced (a shared
        // sidecar may carry positions for since-rewritten files)
        import spark.implicits._
        val nameF = broadcast(live.keys.toSeq.sorted.toDF("_tl_cn"))
        val merged = dvPosFrame(spark, path, cur, live.keys.toSeq).get
          .join(nameF, col("file") === col("_tl_cn"), "left_semi")
          .coalesce(1)
        val dirName = publishDvSidecar(spark, path, merged, "compactDvs")
        val nv = commitFull(spark, path, v + 1, cur.copy(
          tag = None,
          dvs = live.keys.map(_ -> Seq(dirName)).toMap))
        // visible rows unchanged: a content-preserving maintenance op
        maybeWriteChanges(spark, path, v, nv,
          Some(emptyChanges(spark, path, cur)))
        nv
      }
    }

  /** UPDATE via deletion vectors — merge-on-read: matched positions
    * die in a sidecar and the UPDATED copies APPEND as new files, so
    * a 1-row update in a 1 GB file writes O(matched rows), never the
    * file (also routed from [[updateWhere]] under
    * `spark.graft.tablelog.deletionVectors=true`). The matched frame
    * localCheckpoints ONCE: positions, the rewritten rows, accounting,
    * and CDC all read the same decision — non-deterministic
    * predicates/assignments cannot diverge (no two-pass split needed
    * at all in this mode). Partition columns stay unassignable;
    * partitioned tables route the updated copies back into their hive
    * dirs. Consecutive updates stack like deletes: each kills the
    * previous copy's position and appends a fresh copy.
    */
  def updateWhereDV(
      spark: SparkSession, path: String,
      set: Seq[(String, Column)], predicate: Column): Long =
    withLock(spark, path, "updateWhereDV") {
      require(set.nonEmpty, "TableLog.updateWhereDV: no assignments")
      val v = latestVersion(spark, path)
      checkNotVacuumed(spark, path, v)
      val cur = readManifestFull(spark, path, v)
      val schema = cur.schema.getOrElse(
        readFiles(spark, path, cur, cur.files).schema)
      val setMap = set.toMap
      val unknown = setMap.keySet -- schema.fieldNames.toSet
      require(unknown.isEmpty,
        s"TableLog.updateWhereDV: not table columns: ${unknown.mkString(", ")}")
      val partHit = setMap.keySet & cur.partCols.toSet
      require(partHit.isEmpty,
        s"TableLog.updateWhereDV: partition columns are not assignable " +
          s"(${partHit.mkString(", ")}) — a partition move is a merge")
      val matched = readFilesDvMeta(spark, path, cur, cur.files)
        .where(coalesce(predicate, lit(false)))
        .localCheckpoint(true)
      val perFile = matched
        .groupBy(col("_tl_file")).agg(count(lit(1)).as("_tl_n"))
        .collect().map(r => relName(path, r.getString(0)) -> r.getLong(1))
      if (perFile.isEmpty) {
        val nv = commitFull(spark, path, v + 1, cur.copy(tag = None))
        maybeWriteChanges(spark, path, v, nv,
          Some(emptyChanges(spark, path, cur)))
        nv
      } else {
        val matchedRows = perFile.map(_._2).sum
        val updatedPlan = matched.select(schema.fields.toSeq.map { f =>
          setMap.get(f.name) match {
            case Some(c) => c.cast(f.dataType).as(f.name)
            case None => col(f.name)
          }
        }: _*)
        // `updated` executes TWICE (the data write, then the CDC
        // 'added' side) — non-deterministic assignments (rand(),
        // current_timestamp re-stamps per execution) must evaluate
        // exactly ONCE or the materialized change feed diverges from
        // the rows actually appended; deterministic ones re-derive
        // identically from the checkpointed `matched` for free
        val updated =
          if (allDeterministic(spark, schema, set.map(_._2))) updatedPlan
          else updatedPlan.localCheckpoint(true)
        val (newFiles, newStats, newParts) =
          if (cur.partCols.nonEmpty)
            writeDataFilesPartitioned(spark, path, updated, cur.partCols)
          else {
            val (ns, st) = writeDataFiles(spark, path, updated)
            (ns, st, Map.empty[String, Seq[String]])
          }
        // accounting BEFORE any publish: the appended copies must be
        // exactly the matched rows
        val written = newStats.valuesIterator
          .flatMap(_.get(RowsKey)).map(_.min.toLong).sum
        require(written == matchedRows,
          s"TableLog.updateWhereDV: wrote $written rows, want $matchedRows " +
            "— aborting commit (orphans go to vacuum)")
        val dirName = publishDvSidecar(spark, path,
          matched.select(relNameCol(col("_tl_file")).as("file"),
            col("_tl_pos").as("pos")), "updateWhereDV")
        val (dvStats, dvDirs) = dvManifestDelta(cur, perFile.toMap, dirName)
        val nv = commitFull(spark, path, v + 1, cur.copy(
          tag = None,
          files = cur.files ++ newFiles,
          stats = cur.stats ++ dvStats ++ newStats,
          parts = cur.parts ++ newParts,
          dvs = cur.dvs ++ dvDirs))
        // CDC: old copies out, updated copies in — from the ONE
        // checkpointed decision
        maybeWriteChanges(spark, path, v, nv, Some(
          matched.select(schema.fieldNames.toSeq.map(col): _*)
            .withColumn("change", lit("removed"))
            .unionByName(updated.withColumn("change", lit("added")))))
        nv
      }
    }

  /** Key column types equality deletes support: string and the
    * integral family — the realistic upsert-key shapes, and the ones
    * the SQL scan's executor-side key loader can normalize exactly
    * (Long / String) from both the parquet Group API and an
    * InternalRow.
    */
  private[graft] def supportedEqType(
      dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.StringType |
      org.apache.spark.sql.types.LongType |
      org.apache.spark.sql.types.IntegerType |
      org.apache.spark.sql.types.ShortType |
      org.apache.spark.sql.types.ByteType => true
    case _ => false
  }

  /** Validate + publish ONE equality-delete sidecar: the distinct,
    * non-null key tuples of `keys` (whose column NAMES name the key
    * columns) land under `_eqd/` as a tmp+renamed parquet dir, with
    * driver-computed min/max bounds per key column. Returns the
    * manifest entry (seq = the committing version `v + 1`) and the
    * born map with every CURRENT file marked (files already marked
    * keep their earlier — smaller — mark; files appended later are
    * never marked by this commit, so the sidecar can never touch
    * them). None when `keys` has zero rows: nothing can ever match.
    */
  private def eqDeleteCore(
      spark: SparkSession, path: String, v: Long, cur: Manifest,
      keys: DataFrame, op: String): Option[(EqDelete, Map[String, Long])] = {
    val cols = keys.columns.toSeq
    require(cols.nonEmpty, s"TableLog.$op: keys frame has no columns")
    val schema = cur.schema.getOrElse(
      readFiles(spark, path, cur, cur.files).schema)
    val byName = schema.fields.map(f => f.name -> f).toMap
    cols.foreach { c =>
      val fld = byName.getOrElse(c, throw new IllegalArgumentException(
        s"TableLog.$op: key column $c is not a table column"))
      require(supportedEqType(fld.dataType),
        s"TableLog.$op: key column $c has type ${fld.dataType} — equality " +
          "deletes support string and integral keys")
      val kt = keys.schema(c).dataType
      require(kt == fld.dataType,
        s"TableLog.$op: key column $c is $kt, table column is ${fld.dataType}")
    }
    // ONE materialization: the null check, bounds, and sidecar write
    // all read the same decision (a non-deterministic keys frame must
    // not publish keys its own null check never saw); released once
    // the sidecar is written
    Widen.pinned(keys.select(cols.map(col): _*).distinct()) { k =>
      if (k.isEmpty) None
      else {
        require(k.where(cols.map(c => col(c).isNull).reduce(_ || _)).isEmpty,
          s"TableLog.$op: NULL key values — equality deletes match " +
            "non-null keys only")
        val aggExprs = cols.zipWithIndex.flatMap { case (c, i) =>
          Seq(min(col(c)).as(s"_mn$i"), max(col(c)).as(s"_mx$i")) }
        val aggRow = k.agg(aggExprs.head, aggExprs.tail: _*).collect()(0)
        val bounds = cols.zipWithIndex.map { case (c, i) =>
          val kind = byName(c).dataType match {
            case org.apache.spark.sql.types.StringType => "s"
            case _ => "l"
          }
          c -> ColBound(kind,
            String.valueOf(aggRow.get(aggRow.fieldIndex(s"_mn$i"))),
            String.valueOf(aggRow.get(aggRow.fieldIndex(s"_mx$i"))))
        }.toMap
        val f = fs(spark, path)
        val dirName = s"e-${java.util.UUID.randomUUID()}"
        val tmp = new Path(eqDir(path), s"_tmp_${java.util.UUID.randomUUID()}")
        k.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        f.mkdirs(eqDir(path))
        require(f.rename(tmp, new Path(eqDir(path), dirName)),
          s"TableLog.$op: sidecar publish failed")
        Some((EqDelete(dirName, v + 1, cols, bounds),
          cur.eqBorn ++ cur.files.filterNot(cur.eqBorn.contains)
            .map(_ -> (v + 1)).toMap))
      }
    }
  }

  /** EQUALITY DELETE — merge-on-read by KEY (Iceberg's
    * equality-delete sidecar, the GDPR/upsert shape that needs no
    * match discovery at all): `DELETE FROM t WHERE key IN (keys)`
    * commits as ONE key-list sidecar + a manifest pointer — ZERO data
    * files read or written, write amplification O(|keys|) regardless
    * of table size (a positional [[deleteWhereDV]] still runs a
    * discovery scan; this doesn't even do that). Readers anti-join
    * the key tuples out of every file that pre-existed the delete;
    * rewrites ([[optimizeRange]]/[[compact]]/copy-on-write mutators)
    * fold the deletes into the rewritten bytes and drop the
    * attachment. `keys`'s column names ARE the key columns (string /
    * integral, non-null). Zero key rows: returns the current version
    * without committing.
    */
  def deleteByKey(spark: SparkSession, path: String, keys: DataFrame): Long =
    withLock(spark, path, "deleteByKey") {
      val v = latestVersion(spark, path)
      checkNotVacuumed(spark, path, v)
      val cur = readManifestFull(spark, path, v)
      eqDeleteCore(spark, path, v, cur, keys, "deleteByKey") match {
        case None => v
        case Some((entry, born)) =>
          val nv = commitFull(spark, path, v + 1, cur.copy(
            tag = None, eqd = cur.eqd :+ entry, eqBorn = born))
          // CDC (when enabled) reconstructs via diff: the delta read
          // is pruned to files whose key-column bounds overlap the
          // sidecar's
          maybeWriteChanges(spark, path, v, nv)
          nv
      }
    }

  /** Exactly-once streaming UPSERT — the per-epoch unit
    * [[graft.streaming.StreamingOps.tableLogUpsertSink]] commits: ONE
    * atomic version that (a) equality-deletes the batch's key tuples
    * from every PRE-EXISTING file and (b) appends the batch's rows as
    * new files. The born-mark rule scopes the delete to files live
    * before this commit, so the same commit's appends survive — the
    * delete+append pair IS the upsert, with write amplification
    * O(batch), never O(matched files) (a [[merge]] per epoch rewrites
    * matched files copy-on-write; even merge-on-read [[merge]] runs a
    * discovery scan — this touches no existing data at all, Iceberg's
    * streaming upsert shape). Replay-safe via `tag` exactly like
    * [[appendBatch]]: a committed tag returns its version without
    * writing. Requires one row per key per batch (two same-key rows
    * in one batch would both survive — refused loudly). An EMPTY
    * batch commits a tag-only version (the replay marker must
    * persist).
    */
  def upsertBatch(
      spark: SparkSession, path: String, df: DataFrame,
      keyCols: Seq[String], tag: String): Long =
    tags(spark, path).get(tag) match {
      case Some(v) => v
      case None =>
        withLock(spark, path, "upsertBatch") {
          tags(spark, path).get(tag) match {
            case Some(v) => v
            case None =>
              val v = latestVersion(spark, path)
              val cur = readManifestFull(spark, path, v)
              require(keyCols.nonEmpty, "TableLog.upsertBatch: no key columns")
              require(keyCols.forall(df.columns.contains),
                s"TableLog.upsertBatch: batch is missing key columns " +
                  s"${keyCols.filterNot(df.columns.contains).mkString(", ")}")
              val base = cur.schema.orElse(
                Some(readFiles(spark, path, cur, cur.files).schema))
              val merged = mergedSchema(base, df.schema)
              val src = df.localCheckpoint(true)
              val nRows = src.count()
              if (nRows == 0L)
                commitFull(spark, path, v + 1, cur.copy(tag = Some(tag)))
              else {
                require(src.select(keyCols.map(col): _*).distinct()
                  .count() == nRows,
                  "TableLog.upsertBatch: duplicate keys within the batch — " +
                    "an upsert takes one row per key per batch")
                val (entry, born) = eqDeleteCore(spark, path, v, cur,
                  src.select(keyCols.map(col): _*), "upsertBatch").get
                val (names, stats, parts) =
                  if (cur.partCols.nonEmpty)
                    writeDataFilesPartitioned(spark, path, src, cur.partCols)
                  else {
                    val (ns, st) = writeDataFiles(spark, path, src)
                    (ns, st, Map.empty[String, Seq[String]])
                  }
                // accounting BEFORE the commit rename (manifest-derived,
                // zero extra IO): the appended files must carry exactly
                // the checkpointed batch's rows
                val written = stats.valuesIterator
                  .flatMap(_.get(RowsKey)).map(_.min.toLong).sum
                require(written == nRows,
                  s"TableLog.upsertBatch: wrote $written rows, want " +
                    s"$nRows — aborting commit (orphans go to vacuum)")
                val nv = commitFull(spark, path, v + 1, cur.copy(
                  tag = Some(tag),
                  files = cur.files ++ names,
                  stats = cur.stats ++ stats,
                  schema = Some(merged),
                  parts = cur.parts ++ parts,
                  eqd = cur.eqd :+ entry,
                  eqBorn = born))
                maybeWriteChanges(spark, path, v, nv)
                nv
              }
          }
        }
    }

  /** UPDATE ... SET ... WHERE as a committed version: only files
    * actually CONTAINING matched rows rewrite (whole-file
    * copy-on-write — Delta's UPDATE shape); every other file carries
    * over by name with its stats. Matched rows take the assignments
    * (cast to the column's existing type — retypes refused by the
    * cast), unmatched rows in touched files rewrite unchanged,
    * NULL-predicate rows are unmatched. Partition columns are not
    * assignable (a partition-value update is a migration — use
    * [[merge]]); partitioned tables rewrite through the partitioned
    * writer, so touched rows stay in their hive dirs. Row accounting
    * (rewritten == touched) is validated BEFORE the commit rename —
    * a failure leaves only vacuum-collectable orphans.
    */
  def updateWhere(
      spark: SparkSession, path: String,
      set: Seq[(String, Column)], predicate: Column): Long =
    if (spark.conf.get("spark.graft.tablelog.deletionVectors", "false").toBoolean)
      updateWhereDV(spark, path, set, predicate)
    else withLock(spark, path, "updateWhere") {
      require(set.nonEmpty, "TableLog.updateWhere: no assignments")
      val v = latestVersion(spark, path)
      checkNotVacuumed(spark, path, v)
      val cur = readManifestFull(spark, path, v)
      val schema = cur.schema.getOrElse(
        readFiles(spark, path, cur, cur.files).schema)
      val setMap = set.toMap
      val unknown = setMap.keySet -- schema.fieldNames.toSet
      require(unknown.isEmpty,
        s"TableLog.updateWhere: not table columns: ${unknown.mkString(", ")}")
      val partHit = setMap.keySet & cur.partCols.toSet
      require(partHit.isEmpty,
        s"TableLog.updateWhere: partition columns are not assignable " +
          s"(${partHit.mkString(", ")}) — a partition move is a merge")
      // a DETERMINISTIC predicate may be re-evaluated freely: the
      // touched-file discovery and the rewrite provably agree. A
      // non-deterministic one (rand(), a nondeterministic UDF) must
      // be evaluated exactly ONCE — the matched frame materializes
      // (localCheckpoint, the mergeWhen discipline) and both the file
      // cut and the rewrite read the same decision, so the updated
      // row set can never diverge from the planned one.
      val deterministic =
        allDeterministic(spark, schema, set.map(_._2) :+ predicate)
      val (touchedNames, touchedDfOpt, matchedCol)
          : (Set[String], Option[DataFrame], Column) =
        if (deterministic) {
          val df = readFilesDvMeta(spark, path, cur, cur.files)
          val perFileMatches = df.where(predicate)
            .groupBy(col("_tl_file").as("_tl_f"))
            .agg(count(lit(1)).as("_tl_n")).collect()
          val tn = perFileMatches.map(r => relName(path, r.getString(0))).toSet
          val t =
            if (tn.isEmpty) None
            else Some(readFilesDvMeta(spark, path, cur,
              cur.files.filter(tn.contains)).drop("_tl_file", "_tl_pos"))
          (tn, t, coalesce(predicate, lit(false)))
        } else {
          val evald = readFilesDvMeta(spark, path, cur, cur.files)
            .withColumnRenamed("_tl_file", "_tl_f")
            .drop("_tl_pos")
            .withColumn("_tl_m", coalesce(predicate, lit(false)))
            .localCheckpoint(true)
          val absTouched = evald.where(col("_tl_m"))
            .select(col("_tl_f")).distinct()
            .collect().map(_.getString(0)).toSet
          val tn = absTouched.map(relName(path, _))
          val t =
            if (tn.isEmpty) None
            else Some(evald.where(col("_tl_f").isInCollection(absTouched)))
          (tn, t, col("_tl_m"))
        }
      if (touchedNames.isEmpty) {
        val nv = commitFull(spark, path, v + 1, cur.copy(tag = None))
        maybeWriteChanges(spark, path, v, nv,
          Some(emptyChanges(spark, path, cur)))
        nv
      } else {
        val untouched = cur.files.filterNot(touchedNames.contains)
        val touchedDf = touchedDfOpt.get
        val touchedRows = touchedDf.count()
        val rewritten = touchedDf.select(schema.fields.toSeq.map { f =>
          setMap.get(f.name) match {
            case Some(c) =>
              when(matchedCol, c.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
            case None => col(f.name)
          }
        }: _*)
        val (newFiles, newStats, newParts) =
          if (cur.partCols.nonEmpty)
            writeDataFilesPartitioned(spark, path, rewritten, cur.partCols)
          else {
            val (ns, st) = writeDataFiles(spark, path, rewritten)
            (ns, st, Map.empty[String, Seq[String]])
          }
        val rewrittenRows = spark.read.parquet(
          newFiles.map(n => new Path(dataDir(path), n).toString): _*).count()
        require(rewrittenRows == touchedRows,
          s"TableLog.updateWhere: rewrite has $rewrittenRows rows, want " +
            s"$touchedRows — aborting commit (orphans go to vacuum)")
        val nv = commitFull(spark, path, v + 1, cur.copy(
          tag = None,
          files = untouched ++ newFiles,
          stats = cur.stats.filterNot { case (k, _) =>
            touchedNames.contains(k) } ++ newStats,
          parts = (cur.parts -- touchedNames) ++ newParts,
          dvs = cur.dvs -- touchedNames,
          eqd = eqAfterDrop(cur, touchedNames)._1,
          eqBorn = eqAfterDrop(cur, touchedNames)._2))
        maybeWriteChanges(spark, path, v, nv)
        nv
      }
    }

  /** Drop entire partitions as a new version — a PURE MANIFEST
    * operation: the partition's files simply leave the file list
    * (zero data IO, the classic `ALTER TABLE DROP PARTITION`);
    * their bytes stay on disk for time travel until [[vacuum]].
    * `eq` may pin any SUBSET of the partition columns (all matching
    * partitions drop). Refuses to drop the last file (empty tables
    * are not representable, same as a full delete).
    */
  def deletePartition(
      spark: SparkSession, path: String, eq: Map[String, String]): Long =
    withLock(spark, path, "deletePartition") {
      val v = latestVersion(spark, path)
      checkNotVacuumed(spark, path, v)
      val m = readManifestFull(spark, path, v)
      require(m.partCols.nonEmpty,
        "TableLog.deletePartition: table is not partitioned")
      val unknown = eq.keySet -- m.partCols.toSet
      require(unknown.isEmpty,
        s"TableLog.deletePartition: not partition columns: ${unknown.mkString(", ")}")
      val idx = m.partCols.zipWithIndex.toMap
      val dropped = m.files.filter { n =>
        m.parts.get(n).exists(vals =>
          eq.forall { case (c, want) => vals(idx(c)) == want })
      }.toSet
      if (dropped.isEmpty) {
        val nv = commitFull(spark, path, v + 1, m.copy(tag = None))
        maybeWriteChanges(spark, path, v, nv,
          Some(emptyChanges(spark, path, m)))
        nv
      } else {
        val nv = commitFull(spark, path, v + 1, m.copy(
          tag = None,
          files = m.files.filterNot(dropped.contains),
          stats = m.stats.filterNot { case (k, _) => dropped.contains(k) },
          parts = m.parts -- dropped, dvs = m.dvs -- dropped,
          eqd = eqAfterDrop(m, dropped)._1,
          eqBorn = eqAfterDrop(m, dropped)._2))
        // removed-only diff: reads exactly the dropped files
        maybeWriteChanges(spark, path, v, nv)
        nv
      }
    }

  /** [[deleteWhere]] specialized to a band on a stats column: the
    * CANDIDATE file set comes from the MANIFEST bounds (files whose
    * [min,max] overlaps the band, plus unbounded files —
    * conservative), so the match-discovery job scans only the band's
    * neighborhood instead of the whole table. On a table clustered on
    * `colName`, a TTL/GDPR delete's discovery cost is proportional to
    * the band — the difference between touching yesterday's files and
    * re-reading 100 TB.
    */
  def deleteBand(
      spark: SparkSession, path: String, colName: String,
      lower: Any, upper: Any): Long =
    if (spark.conf.get("spark.graft.tablelog.deletionVectors", "false").toBoolean)
      deleteBandDV(spark, path, colName, lower, upper)
    else withLock(spark, path, "deleteBand") {
      val v = latestVersion(spark, path)
      checkNotVacuumed(spark, path, v)
      val cur = readManifestFull(spark, path, v)
      val candidates = cur.files.filter { n =>
        cur.stats.get(n).flatMap(_.get(colName)) match {
          case None => true
          case Some(b) => overlaps(b, lower, upper)
        }
      }
      val pred = col(colName) >= lit(lower) && col(colName) <= lit(upper)
      if (candidates.isEmpty) {
        val nv = commitFull(spark, path, v + 1, cur.copy(tag = None))
        maybeWriteChanges(spark, path, v, nv,
          Some(emptyChanges(spark, path, cur)))
        nv
      } else deleteCore(spark, path, v, cur, candidates, pred)
    }

  /** A scanned file's data/-relative path (the manifest's name
    * space): flat basename for unpartitioned tables, `col=value/...`
    * for partitioned ones.
    */
  private def relName(path: String, filePath: String): String = {
    val dataUri = dataDir(path).toUri.getPath
    new Path(filePath).toUri.getPath.stripPrefix(dataUri).stripPrefix("/")
  }

  /** Shared delete engine: find files containing matches WITHIN the
    * candidate set (one bounded `_metadata.file_path` job), rewrite
    * only those without their matches, carry everything else by name.
    * On a partitioned table, survivors (whose partition columns the
    * read recovered) route back into their hive directories with
    * fresh partition records.
    */
  private def deleteCore(
      spark: SparkSession, path: String, v: Long, cur: Manifest,
      candidates: Seq[String], predicate: Column): Long = {
    // DV-applied reads throughout: a position already dead in a
    // deletion vector is invisible to discovery, accounting, and the
    // rewrite — and the rewrite of a touched file FOLDS its vectors in
    val df = readFilesDvMeta(spark, path, cur, candidates)
    val perFileMatches = df.where(predicate)
      .groupBy(col("_tl_file").as("_tl_f"))
      .agg(count(lit(1)).as("_tl_n")).collect()
    val touchedNames =
      perFileMatches.map(r => relName(path, r.getString(0))).toSet
    if (touchedNames.isEmpty) {
      val nv = commitFull(spark, path, v + 1, cur.copy(tag = None))
      maybeWriteChanges(spark, path, v, nv,
        Some(emptyChanges(spark, path, cur)))
      nv
    } else {
      val rowsDeleted = perFileMatches.map(_.getLong(1)).sum
      val (touched, untouched) = cur.files.partition(touchedNames.contains)
      val touchedDf = readFilesDvMeta(spark, path, cur, touched)
        .drop("_tl_file", "_tl_pos")
      val touchedRows = touchedDf.count()
      // survivors = NOT(matched): NULL-predicate rows did not match
      // and must be kept — bare !predicate is NULL for them and
      // would drop them silently (StorageLayout.deleteWhere
      // discipline)
      val survivors = touchedDf.where(!coalesce(predicate, lit(false)))
      val noSurvivors = survivors.isEmpty
      val (newFiles, newStats, newParts) =
        if (noSurvivors)
          (Nil, Map.empty[String, Map[String, ColBound]],
            Map.empty[String, Seq[String]])
        else if (cur.partCols.nonEmpty)
          writeDataFilesPartitioned(spark, path, survivors, cur.partCols)
        else {
          val (ns, st) = writeDataFiles(spark, path, survivors)
          (ns, st, Map.empty[String, Seq[String]])
        }
      // row accounting BEFORE the commit rename: a survivor filter
      // that dropped more than the matched rows (e.g. a
      // non-deterministic predicate) aborts here, leaving only
      // orphan data files for vacuum — never a committed wrong
      // version
      val survivorRows =
        if (newFiles.isEmpty) 0L
        else spark.read.parquet(
          newFiles.map(n => new Path(dataDir(path), n).toString): _*).count()
      require(survivorRows == touchedRows - rowsDeleted,
        s"TableLog.deleteWhere: survivors have $survivorRows rows, want " +
          s"${touchedRows - rowsDeleted} — aborting commit (orphans go to vacuum)")
      val nv = commitFull(spark, path, v + 1, cur.copy(
        tag = None,
        files = untouched ++ newFiles,
        stats = cur.stats.filterNot { case (k, _) =>
          touchedNames.contains(k) } ++ newStats,
        parts = (cur.parts -- touchedNames) ++ newParts,
        dvs = cur.dvs -- touchedNames,
        eqd = eqAfterDrop(cur, touchedNames)._1,
        eqBorn = eqAfterDrop(cur, touchedNames)._2))
      maybeWriteChanges(spark, path, v, nv)
      nv
    }
  }

  /** MERGE (upsert) by equality key — the Delta MERGE INTO core,
    * whole-row flavor: a source row whose `keyCol` matches an
    * existing row REPLACES it; unmatched source rows INSERT. IO is
    * proportional to the MATCHED REGION, manifest-decided twice over:
    * candidate files come from the manifest bounds overlapping the
    * source's key range (one tiny source aggregate — on a table
    * clustered on the key, an upsert of yesterday's ids touches
    * yesterday's files); then only files actually CONTAINING matches
    * are rewritten (without their matched rows), everything else
    * carries over by name with its stats; the source lands as new
    * files. Source keys must be unique and non-null (two source rows
    * for one target row is the ambiguous merge Delta also refuses);
    * the source may ADD columns (schema evolution, [[mergedSchema]]
    * rules). Row accounting verifies survivors + replacements before
    * the commit rename — an aborted merge leaves only vacuum orphans.
    */
  def merge(
      spark: SparkSession, path: String, source: DataFrame,
      keyCol: String): Long =
    withLock(spark, path, "merge") {
      val v = latestVersion(spark, path)
      val cur = readManifestFull(spark, path, v)
      require(source.columns.contains(keyCol),
        s"TableLog.merge: source has no column $keyCol")
      require(!cur.partCols.contains(keyCol),
        s"TableLog.merge: $keyCol is a partition column — merge keys on a " +
          "data column")
      // ONE materialization of the source plan: the uniqueness check,
      // key-range agg, match join, anti-join, and the data write all
      // derive from it — a non-deterministic source (limit without
      // order, rand-derived keys) can otherwise yield a candidate cut
      // or insert set inconsistent with the match pass (Delta
      // materializes MERGE sources for the same reason)
      val srcMat = source.localCheckpoint(true)
      val base = cur.schema.orElse(
        Some(readFiles(spark, path, cur, cur.files).schema))
      // partitioned tables: the source must carry the partition
      // columns; rewritten survivors and the source route back into
      // their hive dirs (a source row MAY move its key to another
      // partition — the old copy leaves with the survivors' rewrite,
      // the new one lands in its directory)
      val merged =
        if (cur.partCols.isEmpty) mergedSchema(base, srcMat.schema)
        else mergedSchema(base, partitionedSchema(srcMat, cur.partCols))
      // ONE agg job for the uniqueness/null check AND the key range
      // (was two: a unioned probe count plus a min/max agg further
      // down — each a full plan+schedule round over the source)
      val range = srcMat.agg(min(col(keyCol)), max(col(keyCol)),
        count(lit(1)), count(col(keyCol)), countDistinct(col(keyCol)))
        .collect()(0)
      require(range.getLong(2) == range.getLong(3) &&
        range.getLong(3) == range.getLong(4),
        s"TableLog.merge: source $keyCol must be unique and non-null — " +
          "an ambiguous merge would replace one row twice")
      // EQUALITY-ROUTED MERGE (under the eq conf): an upsert needs no
      // match discovery at all — key-delete the source keys from
      // every pre-existing file and append the source; replacing
      // matched rows and inserting unmatched ones are the SAME
      // operation under key semantics. Write amplification O(source),
      // ZERO reads of existing data (the DV route below still pays a
      // discovery scan over the candidate files).
      if (spark.conf.get("spark.graft.tablelog.equalityDeletes", "false")
        .toBoolean &&
        merged.fields.find(_.name == keyCol)
          .exists(f => supportedEqType(f.dataType))) {
        eqDeleteCore(spark, path, v, cur,
          srcMat.select(col(keyCol)), "merge") match {
          case Some((entry, born)) =>
            val (names, stats, parts) =
              if (cur.partCols.nonEmpty)
                writeDataFilesPartitioned(spark, path, srcMat, cur.partCols)
              else {
                val (ns, st) = writeDataFiles(spark, path, srcMat)
                (ns, st, Map.empty[String, Seq[String]])
              }
            val written = stats.valuesIterator
              .flatMap(_.get(RowsKey)).map(_.min.toLong).sum
            val nSrc = range.getLong(2) // count(1) from the combined agg
            require(written == nSrc,
              s"TableLog.merge: wrote $written rows, want $nSrc — " +
                "aborting commit (orphans go to vacuum)")
            val nv = commitFull(spark, path, v + 1, cur.copy(
              tag = None,
              files = cur.files ++ names,
              stats = cur.stats ++ stats,
              schema = Some(merged),
              parts = cur.parts ++ parts,
              eqd = cur.eqd :+ entry,
              eqBorn = born))
            maybeWriteChanges(spark, path, v, nv)
            return nv
          case None => () // empty source: the plain path no-ops it
        }
      }
      // manifest-level candidate cut: the source's key range (from the
      // combined agg above) vs recorded bounds (unbounded files kept —
      // conservative)
      val candidates =
        if (range.isNullAt(0)) Nil // empty source: pure insert of nothing
        else cur.files.filter { n =>
          cur.stats.get(n).flatMap(_.get(keyCol)) match {
            case None => true
            case Some(b) => overlaps(b, range.get(0), range.get(1))
          }
        }
      val srcKeys = srcMat.select(col(keyCol).as("_tl_mk")).distinct()
      val perFileMatches =
        if (candidates.isEmpty) Array.empty[org.apache.spark.sql.Row]
        else readFilesDvMeta(spark, path, cur, candidates)
          .select(col("_tl_file").as("_tl_f"), col(keyCol))
          .join(srcKeys, col(keyCol) === col("_tl_mk"))
          .groupBy(col("_tl_f"))
          .agg(count(lit(1)).as("_tl_n")).collect()
      val touchedNames =
        perFileMatches.map(r => relName(path, r.getString(0))).toSet
      val nMatched = perFileMatches.map(_.getLong(1)).sum
      val (touched, untouched) = cur.files.partition(touchedNames.contains)
      // MERGE-ON-READ (under the DV conf): matched target rows die by
      // POSITION in one sidecar, the source appends as new files —
      // zero data-file rewrites, write amplification O(source +
      // matched positions) instead of O(touched files). The same
      // <1%-of-copy-on-write win q229 proved for DELETE/UPDATE, now
      // for the upsert shape.
      if (touched.nonEmpty && spark.conf
        .get("spark.graft.tablelog.deletionVectors", "false").toBoolean) {
        val matchedPos = readFilesDvMeta(spark, path, cur, touched)
          .join(srcKeys, col(keyCol) === col("_tl_mk"), "left_semi")
          .select(relNameCol(col("_tl_file")).as("file"),
            col("_tl_pos").as("pos"))
          .localCheckpoint(true)
        val perFile = matchedPos.groupBy(col("file"))
          .agg(count(lit(1)).as("_tl_n"))
          .collect().map(r => r.getString(0) -> r.getLong(1))
        // accounting BEFORE any publish: the positions dying must be
        // exactly the discovered matches (srcMat is checkpointed and
        // target files are immutable, so a mismatch is a real bug)
        require(perFile.map(_._2).sum == nMatched,
          s"TableLog.merge: ${perFile.map(_._2).sum} positions found, " +
            s"want $nMatched — aborting commit (orphans go to vacuum)")
        val (srcNames, srcStats, srcParts) =
          if (cur.partCols.isEmpty) {
            val (ns, st) = writeDataFiles(spark, path, srcMat)
            (ns, st, Map.empty[String, Seq[String]])
          } else writeDataFilesPartitioned(spark, path, srcMat, cur.partCols)
        val dirName = publishDvSidecar(spark, path, matchedPos, "merge")
        val (dvStats, dvDirs) = dvManifestDelta(cur, perFile.toMap, dirName)
        val nv = commitFull(spark, path, v + 1, cur.copy(
          tag = None,
          files = cur.files ++ srcNames,
          stats = cur.stats ++ dvStats ++ srcStats,
          schema = Some(merged),
          parts = cur.parts ++ srcParts,
          dvs = cur.dvs ++ dvDirs))
        maybeWriteChanges(spark, path, v, nv)
        return nv
      }
      val survivors =
        if (touched.isEmpty) None
        else Some(readFilesDv(spark, path, cur, touched)
          .join(srcKeys, col(keyCol) === col("_tl_mk"), "left_anti"))
      val touchedRows =
        if (touched.isEmpty) 0L
        else readFilesDv(spark, path, cur, touched).count()
      def writeSide(df: DataFrame)
          : (Seq[String], Map[String, Map[String, ColBound]],
            Map[String, Seq[String]]) =
        if (cur.partCols.isEmpty) {
          val (ns, st) = writeDataFiles(spark, path, df)
          (ns, st, Map.empty[String, Seq[String]])
        } else writeDataFilesPartitioned(spark, path, df, cur.partCols)
      val (survNames, survStats, survParts) = survivors match {
        case Some(df) if !df.isEmpty => writeSide(df)
        case _ => (Nil, Map.empty[String, Map[String, ColBound]],
          Map.empty[String, Seq[String]])
      }
      val (srcNames, srcStats, srcParts) = writeSide(srcMat)
      // accounting BEFORE the rename: survivors must be exactly the
      // touched rows minus the matches (a non-deterministic source
      // key expression aborts here, never commits wrong)
      val survivorRows =
        if (survNames.isEmpty) 0L
        else spark.read.parquet(
          survNames.map(n => new Path(dataDir(path), n).toString): _*).count()
      require(survivorRows == touchedRows - nMatched,
        s"TableLog.merge: survivors have $survivorRows rows, want " +
          s"${touchedRows - nMatched} — aborting commit (orphans go to vacuum)")
      val nv = commitFull(spark, path, v + 1, cur.copy(
        tag = None,
        files = untouched ++ survNames ++ srcNames,
        stats = cur.stats.filterNot { case (k, _) =>
          touchedNames.contains(k) } ++ survStats ++ srcStats,
        schema = Some(merged),
        parts = (cur.parts -- touchedNames) ++ survParts ++ srcParts,
        dvs = cur.dvs -- touchedNames,
        eqd = eqAfterDrop(cur, touchedNames)._1,
        eqBorn = eqAfterDrop(cur, touchedNames)._2))
      maybeWriteChanges(spark, path, v, nv)
      nv
    }

  /** One WHEN clause of a general [[mergeWhen]]. Action expressions
    * reference TARGET columns by bare name and SOURCE columns with an
    * `_s_` prefix (`col("_s_price")`); conditions default to always.
    */
  sealed trait MergeWhen
  object MergeWhen {
    final case class Update(cond: Option[Column], set: Seq[(String, Column)])
      extends MergeWhen
    final case class Delete(cond: Option[Column]) extends MergeWhen
    final case class Insert(cond: Option[Column], values: Seq[(String, Column)])
      extends MergeWhen
  }

  /** General MERGE — Delta's full WHEN grammar: per-action
    * conditions, partial-SET updates, matched DELETEs, conditional
    * INSERTs, and NOT MATCHED BY SOURCE update/delete (target rows
    * whose key appears in no source row); within each clause family
    * the FIRST applicable action wins per row, rows no action claims
    * stay unchanged. IO keeps [[merge]]'s discipline: candidate
    * files from the manifest bounds against the source key range,
    * only files actually CONTAINING actionable rows rewrite,
    * everything else carries over by name. A by-source clause
    * inherently touches rows ABSENT from the source, so with one
    * present the candidate set is ALL files — unless
    * `notMatchedBySourceBand` scopes it: `(col, lo, hi)` restricts
    * by-source treatment to rows in the band, and the candidate set
    * stays manifest-pruned (key-range files ∪ band files) — the
    * 100 TB shape for "delete rows that vanished from yesterday's
    * feed". Updates may not assign partition columns (that migration
    * is whole-row [[merge]]'s job); inserts must provide every
    * column. The source plan is materialized ONCE (localCheckpoint),
    * so the uniqueness check, key range, match join, and anti-join
    * cannot diverge under a non-deterministic source; the joined
    * outcome is checkpointed too, so accounting counts and written
    * rows always agree. With non-deterministic by-source CONDITIONS
    * the full joined frame is materialized before touched-file
    * discovery — one evaluation decides both the file cut and the
    * rewrite.
    */
  def mergeWhen(
      spark: SparkSession, path: String, source: DataFrame, keyCol: String,
      matched: Seq[MergeWhen], notMatched: Seq[MergeWhen.Insert],
      notMatchedBySource: Seq[MergeWhen] = Nil,
      notMatchedBySourceBand: Option[(String, Any, Any)] = None): Long =
    withLock(spark, path, "mergeWhen") {
      require(matched.forall(!_.isInstanceOf[MergeWhen.Insert]),
        "TableLog.mergeWhen: WHEN MATCHED takes Update/Delete actions")
      require(notMatchedBySource.forall(!_.isInstanceOf[MergeWhen.Insert]),
        "TableLog.mergeWhen: WHEN NOT MATCHED BY SOURCE takes " +
          "Update/Delete actions")
      val v = latestVersion(spark, path)
      val cur = readManifestFull(spark, path, v)
      require(source.columns.contains(keyCol),
        s"TableLog.mergeWhen: source has no column $keyCol")
      require(!cur.partCols.contains(keyCol),
        s"TableLog.mergeWhen: $keyCol is a partition column — key on a " +
          "data column")
      val schema = cur.schema.getOrElse(
        readFiles(spark, path, cur, cur.files).schema)
      require(!schema.fieldNames.exists(_.startsWith("_s_")),
        "TableLog.mergeWhen: target columns may not start with _s_ " +
          "(reserved for source references)")
      def checkActions(as: Seq[MergeWhen]): Unit = as.foreach {
        case MergeWhen.Update(_, set) =>
          val unknown = set.map(_._1).toSet -- schema.fieldNames.toSet
          require(unknown.isEmpty,
            s"TableLog.mergeWhen: not table columns: ${unknown.mkString(", ")}")
          val partHit = set.map(_._1).toSet & cur.partCols.toSet
          require(partHit.isEmpty,
            s"TableLog.mergeWhen: partition columns are not assignable " +
              s"(${partHit.mkString(", ")})")
        case _ => ()
      }
      checkActions(matched)
      checkActions(notMatchedBySource)
      notMatched.foreach { ins =>
        require(ins.values.map(_._1).toSet == schema.fieldNames.toSet,
          "TableLog.mergeWhen: INSERT must provide every table column " +
            s"(${schema.fieldNames.mkString(", ")})")
      }
      // ONE materialization of the source plan: uniqueness check, key
      // range, match join, and anti-join all derive from it (a
      // non-deterministic source can otherwise yield inconsistent
      // passes — Delta materializes MERGE sources for the same reason)
      val srcMat = source.localCheckpoint(true)
      // ONE agg job for the uniqueness/null check AND the key range
      // (was two: a unioned probe count plus a min/max agg — each a
      // full plan+schedule round over the checkpointed source)
      val range = srcMat.agg(min(col(keyCol)), max(col(keyCol)),
        count(lit(1)), count(col(keyCol)), countDistinct(col(keyCol)))
        .collect()(0)
      require(range.getLong(2) == range.getLong(3) &&
        range.getLong(3) == range.getLong(4),
        s"TableLog.mergeWhen: source $keyCol must be unique and non-null")
      val srcR = srcMat.select(srcMat.columns.toSeq.map(c =>
        col(c).as(s"_s_$c")): _*)
      val srcKey = col(s"_s_$keyCol")
      val bySource = notMatchedBySource.nonEmpty
      def overlapsCol(n: String, c: String, lo: Any, hi: Any): Boolean =
        cur.stats.get(n).flatMap(_.get(c)) match {
          case None => true
          case Some(b) => overlaps(b, lo, hi)
        }
      val keyCand: String => Boolean =
        if (range.isNullAt(0)) (_: String) => false
        else n => overlapsCol(n, keyCol, range.get(0), range.get(1))
      val candidates =
        if (!bySource) cur.files.filter(keyCand)
        else notMatchedBySourceBand match {
          case None => cur.files
          case Some((c, lo, hi)) =>
            cur.files.filter(n => keyCand(n) || overlapsCol(n, c, lo, hi))
        }
      // by-source applicability is scoped to the band (rows outside
      // it keep): the manifest cut above is only sound under the same
      // row-level restriction
      val bandPred: Option[Column] = notMatchedBySourceBand.map {
        case (c, lo, hi) => col(c) >= lit(lo) && col(c) <= lit(hi)
      }

      def condOr(c: Option[Column], default: Boolean): Column =
        coalesce(c.getOrElse(lit(default)), lit(false))
      val matchedFlag = srcKey.isNotNull
      def actionCond(a: MergeWhen): Column = a match {
        case MergeWhen.Update(cond, _) => condOr(cond, default = true)
        case MergeWhen.Delete(cond) => condOr(cond, default = true)
        case _: MergeWhen.Insert => lit(false)
      }
      // first-wins action index: 0 = no action (keep); 1..m matched
      // actions, m+1..m+k by-source actions
      val actIdx: Column = {
        val m0 = matched.zipWithIndex
          .foldLeft(when(lit(false), lit(0))) { case (acc, (a, i)) =>
            acc.when(matchedFlag && actionCond(a), lit(i + 1))
          }
        notMatchedBySource.zipWithIndex.foldLeft(m0) { case (acc, (a, i)) =>
          val c = bandPred.map(_ && actionCond(a)).getOrElse(actionCond(a))
          acc.when(!matchedFlag && coalesce(c, lit(false)),
            lit(matched.size + i + 1))
        }.otherwise(lit(0))
      }
      def joinAct(names: Seq[String]): DataFrame =
        readFilesDvMeta(spark, path, cur, names)
          .withColumnRenamed("_tl_file", "_tl_f")
          // _tl_pos rides along: the merge-on-read write phase records
          // actionable rows by POSITION (the COW path just ignores it)
          .join(srcR, col(keyCol) === srcKey, "left")
          .withColumn("_tl_act", actIdx)
      // resolved against the joined shape (target columns + the _s_
      // source projection) — the namespace action conditions live in
      val joinShape = org.apache.spark.sql.types.StructType(
        (schema.fields ++ srcR.schema.fields).map(_.copy(nullable = true)))
      val condsDeterministic = allDeterministic(spark, joinShape,
        (matched ++ notMatchedBySource).flatMap {
          case MergeWhen.Update(c, set) => c.toSeq ++ set.map(_._2)
          case MergeWhen.Delete(c) => c.toSeq
          case _: MergeWhen.Insert => Nil
        })
      // touched-file discovery + the checkpointed joined frame the
      // rewrite and accounting both read
      val (touchedNames, joined): (Set[String], Option[DataFrame]) =
        if (!bySource) {
          // matched-only: discovery is a pure KEY join (deterministic
          // regardless of action conditions — conditions only pick
          // the action, evaluated once post-checkpoint)
          val perFileMatches =
            if (candidates.isEmpty) Array.empty[org.apache.spark.sql.Row]
            else readFiles(spark, path, cur, candidates)
              .select(col("_metadata.file_path").as("_tl_f"), col(keyCol))
              .join(srcR.select(srcKey), col(keyCol) === srcKey)
              .groupBy(col("_tl_f"))
              .agg(count(lit(1)).as("_tl_n")).collect()
          val tn = perFileMatches.map(r => relName(path, r.getString(0))).toSet
          val j =
            if (tn.isEmpty) None
            else Some(joinAct(cur.files.filter(tn.contains))
              .localCheckpoint(true))
          (tn, j)
        } else if (condsDeterministic) {
          // by-source with deterministic conditions: a discovery pass
          // over the candidates (aggregation only, nothing
          // materialized), then the bounded touched set re-joins and
          // checkpoints — the two evaluations provably agree
          val tn =
            if (candidates.isEmpty) Set.empty[String]
            else joinAct(candidates).where(col("_tl_act") > 0)
              .select(col("_tl_f")).distinct()
              .collect().map(r => relName(path, r.getString(0))).toSet
          val j =
            if (tn.isEmpty) None
            else Some(joinAct(cur.files.filter(tn.contains))
              .localCheckpoint(true))
          (tn, j)
        } else {
          // non-deterministic by-source conditions: ONE evaluation
          // must decide both the file cut and the rewrite — the full
          // joined frame materializes (the price of a
          // non-deterministic clause over an unpruned candidate set)
          val full = joinAct(candidates).localCheckpoint(true)
          val absTouched = full.where(col("_tl_act") > 0)
            .select(col("_tl_f")).distinct()
            .collect().map(_.getString(0)).toSet
          val tn = absTouched.map(relName(path, _))
          val j =
            if (tn.isEmpty) None
            else Some(full.where(col("_tl_f").isInCollection(absTouched)))
          (tn, j)
        }
      val (touched, untouched) = cur.files.partition(touchedNames.contains)

      val deleteIdx = (matched.zipWithIndex.collect {
        case (_: MergeWhen.Delete, i) => i + 1
      } ++ notMatchedBySource.zipWithIndex.collect {
        case (_: MergeWhen.Delete, i) => matched.size + i + 1
      }).toSet
      val touchedRows = joined.map(_.count()).getOrElse(0L)
      val deleted = joined.map(
        _.where(col("_tl_act").isInCollection(
          if (deleteIdx.isEmpty) Set(-1) else deleteIdx)).count())
        .getOrElse(0L)
      def applyUpdates(base: Column, f: org.apache.spark.sql.types.StructField,
          actions: Seq[MergeWhen], offset: Int): Column =
        actions.zipWithIndex.foldLeft(base) {
          case (acc, (MergeWhen.Update(_, set), i)) =>
            set.find(_._1 == f.name) match {
              case Some((_, value)) =>
                when(col("_tl_act") === (offset + i + 1),
                  value.cast(f.dataType)).otherwise(acc)
              case None => acc
            }
          case (acc, _) => acc
        }
      val survivors = joined.map { j =>
        j.where(!col("_tl_act").isInCollection(
          if (deleteIdx.isEmpty) Set(-1) else deleteIdx))
          .select(schema.fields.toSeq.map { f =>
            applyUpdates(
              applyUpdates(col(f.name), f, matched, 0),
              f, notMatchedBySource, matched.size).as(f.name)
          }: _*)
      }
      // inserts: source keys matching NO candidate row (matches can
      // only live in candidate files — bounds keep unboundeds), first
      // applicable INSERT's values, cast to the table's types
      val tgtKeys =
        if (candidates.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              schema.fields(schema.fieldIndex(keyCol)))))
        else readFilesDv(spark, path, cur, candidates).select(col(keyCol))
      val srcUnmatched = srcR
        .join(tgtKeys, srcKey === col(keyCol), "left_anti")
      val inserts =
        if (notMatched.isEmpty) None
        else {
          val insIdx = notMatched.zipWithIndex
            .foldLeft(when(lit(false), lit(0))) { case (acc, (a, i)) =>
              acc.when(condOr(a.cond, default = true), lit(i + 1))
            }.otherwise(lit(0))
          Some(srcUnmatched.withColumn("_tl_act", insIdx)
            .where(col("_tl_act") > 0)
            .select(schema.fields.toSeq.map { f =>
              notMatched.zipWithIndex.foldLeft(lit(null).cast(f.dataType)) {
                case (acc, (ins, i)) =>
                  when(col("_tl_act") === (i + 1),
                    ins.values.find(_._1 == f.name).get._2.cast(f.dataType))
                    .otherwise(acc)
              }.as(f.name)
            }: _*)
            .localCheckpoint(true))
        }
      val inserted = inserts.map(_.count()).getOrElse(0L)
      // MERGE-ON-READ (under the DV conf): every actionable target row
      // (matched/by-source update or delete) dies by POSITION in one
      // sidecar; update arms' rewritten copies and the inserts append
      // as new files. NO data file rewrites — unactioned rows in
      // touched files stay in place, so write amplification is
      // O(actioned + inserted rows), never O(touched files).
      if (joined.isDefined && spark.conf
        .get("spark.graft.tablelog.deletionVectors", "false").toBoolean) {
        val j = joined.get
        val matchedPos = j.where(col("_tl_act") > 0)
          .select(relNameCol(col("_tl_f")).as("file"), col("_tl_pos").as("pos"))
        val perFile = matchedPos.groupBy(col("file"))
          .agg(count(lit(1)).as("_tl_n"))
          .collect().map(r => r.getString(0) -> r.getLong(1))
        val actioned = perFile.map(_._2).sum
        val updateIdx = (matched.zipWithIndex.collect {
          case (_: MergeWhen.Update, i) => i + 1
        } ++ notMatchedBySource.zipWithIndex.collect {
          case (_: MergeWhen.Update, i) => matched.size + i + 1
        }).toSet
        val updatedCopies =
          if (updateIdx.isEmpty) None
          else Some(j.where(col("_tl_act").isInCollection(updateIdx))
            .select(schema.fields.toSeq.map { f =>
              applyUpdates(
                applyUpdates(col(f.name), f, matched, 0),
                f, notMatchedBySource, matched.size).as(f.name)
            }: _*))
        val newRowsDv = (updatedCopies, inserts) match {
          case (Some(u), Some(i)) => Some(u.unionByName(i))
          case (u, i) => u.orElse(i)
        }
        val (newFiles, newStats, newParts) = newRowsDv match {
          case Some(nr) if !nr.isEmpty =>
            if (cur.partCols.nonEmpty)
              writeDataFilesPartitioned(spark, path, nr, cur.partCols)
            else {
              val (ns, st) = writeDataFiles(spark, path, nr)
              (ns, st, Map.empty[String, Seq[String]])
            }
          case _ => (Nil, Map.empty[String, Map[String, ColBound]],
            Map.empty[String, Seq[String]])
        }
        // accounting BEFORE any publish: appended copies must be the
        // actioned non-deletes plus the inserts (all frames derive
        // from the checkpointed join — a mismatch is a real bug)
        val written = newStats.valuesIterator
          .flatMap(_.get(RowsKey)).map(_.min.toLong).sum
        require(written == actioned - deleted + inserted,
          s"TableLog.mergeWhen: wrote $written rows, want " +
            s"${actioned - deleted + inserted} — aborting commit " +
            "(orphans go to vacuum)")
        val (dvStats, dvDirs) =
          if (actioned == 0L)
            (Map.empty[String, Map[String, ColBound]],
              Map.empty[String, Seq[String]])
          else {
            val dirName = publishDvSidecar(spark, path, matchedPos, "mergeWhen")
            dvManifestDelta(cur, perFile.toMap, dirName)
          }
        val nv = commitFull(spark, path, v + 1, cur.copy(
          tag = None,
          files = cur.files ++ newFiles,
          stats = cur.stats ++ dvStats ++ newStats,
          parts = cur.parts ++ newParts,
          dvs = cur.dvs ++ dvDirs))
        maybeWriteChanges(spark, path, v, nv)
        return nv
      }
      val newRowsOpt = (survivors, inserts) match {
        case (Some(s), Some(i)) => Some(s.unionByName(i))
        case (s, i) => s.orElse(i)
      }
      newRowsOpt match {
        case None =>
          val nv = commitFull(spark, path, v + 1, cur.copy(tag = None))
          maybeWriteChanges(spark, path, v, nv,
            Some(emptyChanges(spark, path, cur)))
          nv
        case Some(newRows) =>
          val (newFiles, newStats, newParts) =
            if (newRows.isEmpty)
              (Nil, Map.empty[String, Map[String, ColBound]],
                Map.empty[String, Seq[String]])
            else if (cur.partCols.nonEmpty)
              writeDataFilesPartitioned(spark, path, newRows, cur.partCols)
            else {
              val (ns, st) = writeDataFiles(spark, path, newRows)
              (ns, st, Map.empty[String, Seq[String]])
            }
          val written =
            if (newFiles.isEmpty) 0L
            else spark.read.parquet(
              newFiles.map(n => new Path(dataDir(path), n).toString): _*).count()
          require(written == touchedRows - deleted + inserted,
            s"TableLog.mergeWhen: wrote $written rows, want " +
              s"${touchedRows - deleted + inserted} — aborting commit " +
              "(orphans go to vacuum)")
          val nv = commitFull(spark, path, v + 1, cur.copy(
            tag = None,
            files = untouched ++ newFiles,
            stats = cur.stats.filterNot { case (k, _) =>
              touchedNames.contains(k) } ++ newStats,
            parts = (cur.parts -- touchedNames) ++ newParts,
            dvs = cur.dvs -- touchedNames,
            eqd = eqAfterDrop(cur, touchedNames)._1,
            eqBorn = eqAfterDrop(cur, touchedNames)._2))
          maybeWriteChanges(spark, path, v, nv)
          nv
      }
    }

  /** Tagged idempotent append — the exactly-once unit for streaming
    * sinks: if a committed version already carries `tag`, return it
    * WITHOUT writing (the replayed-batch path); otherwise append as a
    * new version carrying the tag. Tag and version commit atomically
    * (the tag lives in the manifest the rename publishes), so there is
    * no crash window where the batch's data is visible but its replay
    * marker is not, or vice versa. A crash after the data-file stage
    * but before the commit leaves orphans for [[vacuum]]; the replay
    * re-stages and commits fresh files.
    */
  def appendBatch(
      spark: SparkSession, path: String, df: DataFrame, tag: String): Long =
    tags(spark, path).get(tag) match {
      case Some(v) => v
      case None =>
        withLock(spark, path, "appendBatch") {
          // re-check under the lock: a concurrent committer may have
          // landed this tag between the lock-free probe and here
          tags(spark, path).get(tag) match {
            case Some(v) => v
            case None =>
              val v = latestVersion(spark, path)
              val cur = readManifestFull(spark, path, v)
              requireUnpartitioned(cur, "appendBatch")
              val base = cur.schema.orElse(
                Some(readFiles(spark, path, cur, cur.files).schema))
              val merged = mergedSchema(base, df.schema)
              val (names, stats) = writeDataFiles(spark, path, df)
              // the amortized log-state checkpoint (keeps tags() and
              // every other read O(1)+O(K) as a streaming sink
              // accretes thousands of tagged versions) rides inside
              // commit itself at CheckpointEvery boundaries
              commitFull(spark, path, v + 1, cur.copy(tag = Some(tag),
                files = cur.files ++ names, stats = cur.stats ++ stats,
                schema = Some(merged)))
          }
        }
    }

  /** [[appendBatch]]'s exactly-once contract under OPTIMISTIC
    * concurrency — concurrent lock-free sinks to one table: if `tag`
    * is already committed, return its version without writing;
    * otherwise stage once and retry the version CAS, re-checking the
    * tag on every attempt (losing the race to the SAME tag returns
    * the winner's version and leaves our staged files as vacuum
    * orphans — the rows land exactly once; losing to a DIFFERENT
    * commit rebases and retries, the append-append rule).
    */
  def appendBatchOptimistic(
      spark: SparkSession, path: String, df: DataFrame, tag: String,
      maxRetries: Int = 16): Long =
    tags(spark, path).get(tag) match {
      case Some(v) => v
      case None =>
        val v0 = latestVersion(spark, path)
        val cur0 = readManifestFull(spark, path, v0)
        requireUnpartitioned(cur0, "appendBatchOptimistic")
        val base0 = cur0.schema.orElse(
          Some(readFiles(spark, path, cur0, cur0.files).schema))
        mergedSchema(base0, df.schema)
        val (names, stats) = writeDataFiles(spark, path, df)
        commitTagged(spark, path, tag, names, stats, df.schema, Map.empty,
          maxRetries, "appendBatchOptimistic").merge
    }

  /** The one retry loop of [[appendBatchOptimistic]] and
    * [[commitStagedOptimistic]]: version CAS attempts appending `names`
    * (and their partition records `parts`) under `tag`. `Right(v)`: this
    * call committed `v`; `Left(v)`: a concurrent commit carries `tag`,
    * at `v`. Each attempt reads the latest version BEFORE the tags:
    * manifests are immutable, so a same-tag commit at or below that
    * version is in the tags, and one above it fails this CAS.
    */
  private def commitTagged(
      spark: SparkSession, path: String, tag: String, names: Seq[String],
      stats: Map[String, Map[String, ColBound]],
      batchSchema: org.apache.spark.sql.types.StructType,
      parts: Map[String, Seq[String]], maxRetries: Int, op: String): Either[Long, Long] = {
    var attempt = 0
    while (attempt < maxRetries) {
      val v = latestVersion(spark, path)
      tags(spark, path).get(tag) match {
        case Some(won) => return Left(won)
        case None =>
          val cur = readManifestFull(spark, path, v)
          if (parts.isEmpty) requireUnpartitioned(cur, op)
          else require(cur.partCols.nonEmpty,
            s"TableLog.$op: partition records on an unpartitioned table")
          val base = cur.schema.orElse(
            Some(readFiles(spark, path, cur, cur.files).schema))
          val merged = mergedSchema(base, batchSchema)
          if (commitTryFull(spark, path, v + 1, cur.copy(
            tag = Some(tag), files = cur.files ++ names,
            stats = cur.stats ++ stats, schema = Some(merged),
            parts = cur.parts ++ parts))) return Right(v + 1)
      }
      attempt += 1
    }
    throw new IllegalStateException(
      s"TableLog.$op: lost the commit race $maxRetries times at $path — " +
        "staged files go to vacuum")
  }

  /** [[appendBatchOptimistic]] for files ALREADY sitting under
    * `data/` (an executor-written streaming epoch — the catalog's
    * STREAMING_WRITE): harvest their footer stats, then run the
    * tag-idempotent version CAS. Losing to the SAME tag (a replayed
    * epoch raced a concurrent sink, or a restart replayed a committed
    * epoch) deletes the staged duplicates best-effort — stragglers
    * are age-gated vacuum orphans — and returns the winner's version:
    * the rows land exactly once.
    */
  private[graft] def commitStagedOptimistic(
      spark: SparkSession, path: String, names: Seq[String],
      batchSchema: org.apache.spark.sql.types.StructType, tag: String,
      parts: Map[String, Seq[String]] = Map.empty,
      maxRetries: Int = 16): Long = {
    require(names.nonEmpty, "TableLog.commitStagedOptimistic: no files")
    require(parts.isEmpty || names.forall(parts.contains),
      "TableLog.commitStagedOptimistic: partitioned commits must carry a " +
        "partition record for every file")
    // losing to an already-committed tag: this call's `names` are
    // EITHER a replay's fresh duplicates (delete them) OR — on a
    // transaction-recovery replay — the very files the winning commit
    // referenced (must NOT delete). Decide per name against the
    // winner's and the latest manifests; skip deletion on any doubt
    // (stragglers are age-gated vacuum orphans, never data loss).
    def dropStaged(wonV: Long): Unit = {
      val f = fs(spark, path)
      val referenced =
        try {
          val latest = readManifest(spark, path,
            latestVersion(spark, path)).toSet
          val won =
            try readManifest(spark, path, wonV).toSet
            catch { case scala.util.control.NonFatal(_) => Set.empty[String] }
          Some(latest ++ won)
        } catch { case scala.util.control.NonFatal(_) => None }
      referenced.foreach { refs =>
        names.filterNot(refs.contains).foreach { n =>
          try { f.delete(new Path(dataDir(path), n), false); () }
          catch { case scala.util.control.NonFatal(_) => () }
        }
      }
    }
    tags(spark, path).get(tag) match {
      case Some(v) => dropStaged(v); v
      case None =>
        val stats = harvestStats(spark, path, names)
        commitTagged(spark, path, tag, names, stats, batchSchema, parts, maxRetries,
          "commitStagedOptimistic").fold(won => { dropStaged(won); won }, identity)
    }
  }

  /** [[overwritePartitionsDynamic]] for files ALREADY written into
    * their hive dirs under `data/` (the executor-written V2 batch
    * write behind SQL's dynamic INSERT OVERWRITE): harvest footer
    * stats, drop every file of the partitions PRESENT in `parts`,
    * reference the staged files — one committed version, untouched
    * partitions carry over by name.
    */
  private[graft] def commitDynamicOverwriteStaged(
      spark: SparkSession, path: String,
      parts: Map[String, Seq[String]],
      batchSchema: org.apache.spark.sql.types.StructType): Long =
    withLock(spark, path, "commitDynamicOverwriteStaged") {
      require(parts.nonEmpty, "TableLog.commitDynamicOverwriteStaged: no files")
      val v = latestVersion(spark, path)
      checkNotVacuumed(spark, path, v)
      val cur = readManifestFull(spark, path, v)
      require(cur.partCols.nonEmpty,
        "TableLog.commitDynamicOverwriteStaged: table is not partitioned")
      val base = cur.schema.orElse(
        Some(readFiles(spark, path, cur, cur.files).schema))
      val merged = mergedSchema(base, batchSchema)
      val names = parts.keys.toSeq.sorted
      val stats = harvestStats(spark, path, names)
      val touched = parts.values.toSet
      val dropped = cur.files.filter(n =>
        cur.parts.get(n).exists(touched.contains)).toSet
      val nv = commitFull(spark, path, v + 1, cur.copy(
        tag = None,
        files = cur.files.filterNot(dropped.contains) ++ names,
        stats = cur.stats.filterNot { case (k, _) =>
          dropped.contains(k) } ++ stats,
        schema = Some(merged),
        parts = (cur.parts -- dropped) ++ parts, dvs = cur.dvs -- dropped,
        eqd = eqAfterDrop(cur, dropped)._1,
        eqBorn = eqAfterDrop(cur, dropped)._2))
      maybeWriteChanges(spark, path, v, nv)
      nv
    }

  // --- cross-table snapshot isolation: the catalog ROOT pointer ---
  // One versioned manifest naming every registered table's version,
  // swapped by the same CAS the table log uses. A transaction bumps
  // the root AFTER all its per-table commits — the bump's single
  // rename is what makes the PAIR visible atomically, so a reader
  // pinned at a root version can never see table A's post-transaction
  // state with table B's pre-transaction one.

  private def rootDir(rootPath: String) = new Path(s"$rootPath/_root")
  private def rootPathV(rootPath: String, v: Long) =
    new Path(rootDir(rootPath), f"v$v%07d.json")
  private def rootLastPtr(rootPath: String) =
    new Path(rootDir(rootPath), "_last")

  /** Committed root versions, ascending (empty if never bumped) — the
    * listing authority; hot reads resolve through [[rootLatest]]'s
    * pointer + probes instead.
    */
  def rootVersions(spark: SparkSession, rootPath: String): Seq[Long] = {
    val f = fs(spark, rootPath)
    if (!f.exists(rootDir(rootPath))) Nil
    else f.listStatus(rootDir(rootPath)).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toLong
      }.sorted
  }

  /** Latest root version without a directory listing in steady state:
    * the `_last` pointer (published AFTER each winning bump, so it may
    * lag) plus O(lag) existence probes — at a high transaction rate
    * this is one small read + a few HEADs, never an O(#transactions)
    * list. 0 = never bumped.
    */
  def rootLatest(spark: SparkSession, rootPath: String): Long = {
    val f = fs(spark, rootPath)
    val base =
      try {
        if (f.exists(rootLastPtr(rootPath)))
          readSmallFile(spark, rootPath, rootLastPtr(rootPath)).trim.toLong
        else 0L
      } catch { case _: java.io.FileNotFoundException => 0L }
    val anchored =
      if (base == 0L) rootVersions(spark, rootPath).lastOption.getOrElse(0L)
      else base
    // pointer may lag behind the newest CAS winner: probe forward
    Iterator.iterate(anchored + 1)(_ + 1)
      .takeWhile(v => f.exists(rootPathV(rootPath, v)))
      .foldLeft(anchored)((_, v) => v)
  }

  /** (this version's tag, table map, CARRIED tag map). Every root
    * version embeds the merged map of recent transaction tags — the
    * bump's idempotency check reads ONE file (the latest root), never
    * a walk over all root versions.
    */
  private def parseRoot(body: String)
      : (Option[String], Map[String, Long], Map[String, Long]) =
    JsonMethods.parse(body) match {
      case o: JObject =>
        val tag = o \ "tag" match { case JString(t) => Some(t); case _ => None }
        val tables = o \ "tables" match {
          case JObject(fields) => fields.collect {
            case (k, JInt(n)) => k -> n.toLong
          }.toMap
          case _ => Map.empty[String, Long]
        }
        val tags = o \ "tags" match {
          case JObject(fields) => fields.collect {
            case (k, JInt(n)) => k -> n.toLong
          }.toMap
          case _ => Map.empty[String, Long]
        }
        (tag, tables, tags)
      case other =>
        throw new IllegalStateException(s"TableLog: unparseable root: $other")
    }

  /** The (table path -> pinned version) map at root version `version`
    * (default: latest). Empty map if the root was never bumped. A
    * reader HOLDS the returned map and resolves every table through it
    * ([[readAtRoot]]) — that is the snapshot-isolation contract: the
    * map came from ONE atomically-published file.
    */
  def rootSnapshot(
      spark: SparkSession, rootPath: String,
      version: Option[Long] = None): Map[String, Long] = {
    val v = version.getOrElse {
      val latest = rootLatest(spark, rootPath)
      if (latest == 0L) return Map.empty else latest
    }
    require(fs(spark, rootPath).exists(rootPathV(rootPath, v)),
      s"TableLog: no root version $v at $rootPath")
    parseRoot(readSmallFile(spark, rootPath, rootPathV(rootPath, v)))._2
  }

  /** Read `tablePath` at the version the root (at `rootVersion`,
    * default latest) pins — the consistent-pair read. Fails fast when
    * the root does not register the table.
    *
    * A pinned version may legitimately sit BELOW the vacuum watermark:
    * [[vacuum]] retains root-pinned manifests and their files
    * individually (the registry or an explicit roots list tells it
    * which), without widening the contiguous retention window — so the
    * watermark guard is bypassed here iff the pinned manifest
    * survived. A pin vacuum never learned about (root not registered,
    * not passed) still fails fast on the guard, loud as before.
    */
  def readAtRoot(
      spark: SparkSession, rootPath: String, tablePath: String,
      rootVersion: Option[Long] = None): DataFrame = {
    val snap = rootSnapshot(spark, rootPath, rootVersion)
    val v = snap.getOrElse(tablePath, throw new IllegalArgumentException(
      s"TableLog.readAtRoot: root $rootPath does not register $tablePath " +
        s"(registered: ${snap.keys.toSeq.sorted.mkString(", ")})"))
    if (v >= vacuumWatermark(spark, tablePath)) read(spark, tablePath, Some(v))
    else {
      require(fs(spark, tablePath).exists(manifestPath(tablePath, v)),
        s"TableLog.readAtRoot: root-pinned version $v of $tablePath was " +
          s"vacuumed — register the root ($rootPath) with the table, or " +
          "pass it in vacuum(roots = ...), so retention honors the pin")
      val m = readManifestFull(spark, tablePath, v)
      readFilesDv(spark, tablePath, m, m.files)
    }
  }

  // --- the root REGISTRY: which roots pin versions of this table ---
  // Populated by [[transaction]] (a table learns its roots the first
  // time a transaction names one) so [[vacuum]] can honor root-pinned
  // versions without being told. Monotone union, tmp+rename publish.

  private def rootsRegistryPath(path: String) =
    new Path(logDir(path), "_roots.json")

  /** Root paths registered with `path` (empty if none). */
  def registeredRoots(spark: SparkSession, path: String): Seq[String] = {
    val f = fs(spark, path)
    val p = rootsRegistryPath(path)
    if (!f.exists(p)) Nil
    else JsonMethods.parse(readSmallFile(spark, path, p)) match {
      case JArray(vs) => vs.collect { case JString(s) => s }
      case _ => Nil
    }
  }

  /** Union `root` into the table's registry (no-op when present). */
  def registerRoot(spark: SparkSession, path: String, root: String): Unit = {
    val cur = registeredRoots(spark, path)
    if (!cur.contains(root)) {
      val f = fs(spark, path)
      val body = JsonMethods.compact(JsonMethods.render(
        JArray((cur :+ root).sorted.map(JString(_): JValue).toList)))
      f.mkdirs(logDir(path))
      val tmp = new Path(logDir(path),
        s"_tmp_roots_${java.util.UUID.randomUUID()}")
      val out = f.create(tmp, true)
      out.write(body.getBytes(UTF_8))
      out.close()
      f.delete(rootsRegistryPath(path), false)
      require(f.rename(tmp, rootsRegistryPath(path)),
        s"TableLog.registerRoot: registry publish failed at $path")
    }
  }

  /** Most recent transaction tags carried in every root version (the
    * bump's O(1) idempotency window — a recovery older than this many
    * transactions would re-bump, which is merely a redundant version,
    * never a torn pair: the table versions in `updates` are the
    * already-committed ones either way).
    */
  private val RootTagWindow = 10000

  /** CAS-bump the root: the new root version's map is the previous map
    * overlaid with `updates`. Tag-idempotent like the table CAS — a
    * recovery replaying a transaction's bump finds the tag in the
    * LATEST root's carried tag map (one small read, never a walk) and
    * returns that version instead of double-bumping.
    */
  def rootBump(
      spark: SparkSession, rootPath: String, updates: Map[String, Long],
      tag: Option[String] = None, maxRetries: Int = 16): Long = {
    require(updates.nonEmpty, "TableLog.rootBump: no updates")
    val f = fs(spark, rootPath)
    var attempt = 0
    while (attempt < maxRetries) {
      val latest = rootLatest(spark, rootPath)
      val (prevTables, prevTags) =
        if (latest == 0L) (Map.empty[String, Long], Map.empty[String, Long])
        else {
          val p = parseRoot(readSmallFile(spark, rootPath,
            rootPathV(rootPath, latest)))
          (p._2, p._3)
        }
      tag.flatMap(prevTags.get) match {
        case Some(v) => return v
        case None =>
          val nv = latest + 1L
          val merged = prevTables ++ updates
          val tags = (prevTags ++ tag.map(_ -> nv)).toSeq
            .sortBy(-_._2).take(RootTagWindow).toMap
          val body = JsonMethods.compact(JsonMethods.render(JObject(
            tag.map(t => "tag" -> (JString(t): JValue)).toList ++ List(
              "ts" -> (JInt(System.currentTimeMillis()): JValue),
              "tags" -> (JObject(tags.toList.sortBy(_._1).map {
                case (t, v) => t -> (JInt(v): JValue)
              }): JValue),
              "tables" -> (JObject(merged.toList.sortBy(_._1).map {
                case (p, v) => p -> (JInt(v): JValue)
              }): JValue)))))
          f.mkdirs(rootDir(rootPath))
          val tmp = new Path(rootDir(rootPath),
            s"_tmp_${java.util.UUID.randomUUID()}.json")
          val out = f.create(tmp, true)
          out.write(body.getBytes(UTF_8))
          out.close()
          val dest = rootPathV(rootPath, nv)
          val guard = commitGuard.computeIfAbsent(
            s"$rootPath#root$nv", _ => new Object)
          if (commitProtocol(spark).publish(f, tmp, dest, guard)) {
            // pointer AFTER the version is readable (readers probe
            // past a lagging pointer, so a crash here costs probes,
            // never correctness)
            val ptmp = new Path(rootDir(rootPath),
              s"_tmp_ptr_${java.util.UUID.randomUUID()}")
            val pout = f.create(ptmp, true)
            pout.write(nv.toString.getBytes(UTF_8))
            pout.close()
            f.delete(rootLastPtr(rootPath), false)
            if (!f.rename(ptmp, rootLastPtr(rootPath)))
              f.delete(ptmp, false) // lost a pointer race: harmless lag
            return nv
          }
      }
      attempt += 1
    }
    throw new IllegalStateException(
      s"TableLog.rootBump: lost the root CAS $maxRetries times at $rootPath")
  }

  /** Multi-table TRANSACTION — one logical append spanning N
    * (unpartitioned) tables, crash-atomic via a write-ahead INTENT +
    * roll-forward recovery (the two-phase shape a catalog-level
    * multi-table commit uses):
    *
    *  1. every table's batch is STAGED (data files written, invisible
    *     — a crash here leaves age-gated vacuum orphans, nothing
    *     visible);
    *  2. the intent file `_log/_txn_<id>.json` publishes (tmp +
    *     rename) at EVERY participant, the lexicographically FIRST
    *     one LAST — THE commit point: before it, the transaction
    *     never happened; after it, it always completes;
    *  3. each table commits its version through the tag-idempotent
    *     CAS (tag `txn-<id>` — concurrent lock-free appenders rebase
    *     under it like any append);
    *  4. with a `root`, the root pointer CAS-bumps to the new
    *     versions (tag-idempotent too);
    *  5. the intents are deleted.
    *
    * A crash between 2 and 5 is healed by [[recoverTransactions]]
    * ([[transaction]] auto-recovers at its own first table, [[vacuum]]
    * at any participant): committed participants are recognized by
    * their txn tag, the rest commit from their staged files, the root
    * bump replays idempotently — so after recovery the outcome is
    * all-or-nothing, never a partial pair. Crash atomicity +
    * exactly-once hold always; cross-table SNAPSHOT ISOLATION
    * additionally holds for readers that resolve versions through the
    * root ([[rootSnapshot]]/[[readAtRoot]]): the pair becomes visible
    * in the root's single rename, never one table at a time. Readers
    * going straight to a table (plain [[read]]) keep the Delta-world
    * status quo (per-table snapshots, no cross-table pinning).
    */
  def transaction(
      spark: SparkSession, appends: Seq[(String, DataFrame)],
      root: Option[String] = None): Seq[Long] = {
    require(appends.nonEmpty, "TableLog.transaction: no tables")
    require(appends.map(_._1).distinct.size == appends.size,
      "TableLog.transaction: duplicate table paths")
    val ordered = appends.sortBy(_._1)
    val first = ordered.head._1
    // heal any crashed predecessor anchored at the same coordinator
    recoverTransactions(spark, first)
    def lockAll(rest: Seq[String])(body: => Seq[Long]): Seq[Long] =
      rest match {
        case Nil => body
        case p +: tail =>
          IndexOps.withMutationLock(spark, p, "TableLog.transaction") {
            lockAll(tail)(body)
          }
      }
    lockAll(ordered.map(_._1)) {
      val txnId = java.util.UUID.randomUUID().toString
      // stage every table first (validating evolution before any IO
      // of the NEXT table is cheap insurance, matching append)
      val staged = ordered.map { case (p, df) =>
        val v = latestVersion(spark, p)
        val cur = readManifestFull(spark, p, v)
        requireUnpartitioned(cur, "transaction")
        val base = cur.schema.orElse(
          Some(readFiles(spark, p, cur, cur.files).schema))
        mergedSchema(base, df.schema)
        val (names, _) = writeDataFiles(spark, p, df)
        (p, names, df.schema)
      }
      // every participant learns the root BEFORE anything commits:
      // a later vacuum at any of them honors the root's pins without
      // being told (registry writes are safe here — the transaction
      // holds every participant's mutation lock)
      root.foreach(r => staged.foreach { case (p, _, _) =>
        registerRoot(spark, p, r)
      })
      writeTxnIntent(spark, txnId, staged, root)
      val versions = staged.map { case (p, names, schema) =>
        commitStagedOptimistic(spark, p, names, schema, s"txn-$txnId")
      }
      val byPath = staged.map(_._1).zip(versions).toMap
      // the isolation point: ONE rename makes the whole pair visible
      // to root-resolved readers
      root.foreach { r =>
        rootBump(spark, r, byPath, Some(s"txn-$txnId"))
      }
      staged.foreach { case (p, _, _) =>
        fs(spark, p).delete(txnIntentPath(p, txnId), false)
      }
      // return versions in the CALLER's table order
      appends.map { case (p, _) => byPath(p) }
    }
  }

  private def txnIntentPath(first: String, id: String) =
    new Path(logDir(first), s"_txn_$id.json")

  /** Publish the write-ahead intent at EVERY participant's `_log/`
    * (identical full body — each copy alone can roll the whole
    * transaction forward). Mirroring is what makes [[vacuum]] at ANY
    * participant able to see (and heal) a crashed transaction that
    * staged files into its table: with a single-anchor intent, a
    * vacuum at a non-first participant could not know the aged staged
    * files were spoken for. The LAST copy written is the one at the
    * lexicographically first participant — the commit point: after it
    * the transaction always completes; a crash while mirroring leaves
    * earlier copies, and rolling those forward is equally
    * all-or-nothing (the body is complete in every copy), so recovery
    * from a partial mirror simply moves the effective commit point to
    * the first surviving copy.
    */
  private def writeTxnIntent(
      spark: SparkSession, id: String,
      staged: Seq[(String, Seq[String], org.apache.spark.sql.types.StructType)],
      root: Option[String] = None): Unit = {
    val body = JsonMethods.compact(JsonMethods.render(JObject(
      List("txn" -> (JString(id): JValue)) ++
        root.map(r => "root" -> (JString(r): JValue)).toList ++ List(
      "tables" -> (JArray(staged.map { case (p, names, schema) =>
        JObject(List(
          "path" -> (JString(p): JValue),
          "files" -> (JArray(names.map(JString(_): JValue).toList): JValue),
          "schema" -> (JString(schema.json): JValue))): JValue
      }.toList): JValue)))))
    // staged is already sorted; write mirrors in REVERSE order so the
    // first participant's copy publishes last
    staged.map(_._1).reverse.foreach { p =>
      val f = fs(spark, p)
      f.mkdirs(logDir(p))
      val tmp = new Path(logDir(p),
        s"_tmp_txn_${java.util.UUID.randomUUID()}.json")
      val out = f.create(tmp, true)
      out.write(body.getBytes(UTF_8))
      out.close()
      require(f.rename(tmp, txnIntentPath(p, id)),
        "TableLog.transaction: intent publish failed")
    }
  }

  /** Pending transaction intents mirrored at `path`'s `_log/`, parsed
    * strictly: a missing or empty participant path, schema, or txn id
    * fails loudly (a corrupt intent must never roll forward against
    * filesystem root or skip a participant silently).
    */
  private def pendingIntents(spark: SparkSession, path: String)
      : Seq[(Path, String, Seq[(String, Seq[String],
        org.apache.spark.sql.types.StructType)], Option[String])] = {
    val f = fs(spark, path)
    if (!f.exists(logDir(path))) return Nil
    val intents = f.listStatus(logDir(path)).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith("_txn_") && p.getName.endsWith(".json"))
    intents.map { ip =>
      val j = JsonMethods.parse(readSmallFile(spark, path, ip))
      val id = j \ "txn" match {
        case JString(s) if s.nonEmpty => s
        case _ => throw new IllegalStateException(
          s"TableLog: unparseable transaction intent $ip")
      }
      val root = j \ "root" match {
        case JString(s) if s.nonEmpty => Some(s)
        case _ => None
      }
      val tables = j \ "tables" match {
        case JArray(ts) => ts.map { t =>
          val p = t \ "path" match {
            case JString(s) if s.nonEmpty => s
            case _ => throw new IllegalStateException(
              s"TableLog: intent $ip has a participant with a missing or " +
                "empty path — refusing to recover a corrupt intent")
          }
          val names = t \ "files" match {
            case JArray(vs) => vs.collect { case JString(s) => s }
            case _ => Nil
          }
          val schema = t \ "schema" match {
            case JString(s) => org.apache.spark.sql.types.DataType.fromJson(s)
              .asInstanceOf[org.apache.spark.sql.types.StructType]
            case _ => throw new IllegalStateException(
              s"TableLog: intent $ip lacks a schema")
          }
          (p, names, schema)
        }
        case _ => Nil
      }
      (ip, id, tables, root)
    }
  }

  /** Complete (roll forward) every pending transaction intent
    * mirrored at `first` — idempotent: already-committed participants
    * are recognized by their `txn-<id>` tag and skipped; the rest
    * commit from their (already staged) files. The intent's mirror
    * copies at EVERY participant are deleted after the roll-forward,
    * so a later recovery anywhere finds nothing. Safe to call any
    * time; [[transaction]] calls it on entry and [[vacuum]] calls it
    * before computing its unreferenced set (an aged crashed
    * transaction's staged files become referenced instead of swept).
    */
  def recoverTransactions(spark: SparkSession, first: String): Int = {
    val intents = pendingIntents(spark, first)
    intents.foreach { case (ip, id, tables, root) =>
      val versions = tables.map { case (p, names, schema) =>
        p -> commitStagedOptimistic(spark, p, names, schema, s"txn-$id")
      }
      // a root-registered transaction's bump replays idempotently
      // (tag check) — a crash between the per-table commits and the
      // bump still converges to the consistent pair
      root.foreach { r =>
        rootBump(spark, r, versions.toMap, Some(s"txn-$id"))
      }
      tables.foreach { case (p, _, _) =>
        fs(spark, p).delete(txnIntentPath(p, id), false)
      }
      fs(spark, first).delete(ip, false)
    }
    intents.size
  }

  /** RESTORE: re-commit version `v`'s exact state (files, bounds,
    * schema) as the NEW latest version — the Delta RESTORE shape.
    * Zero data IO: the manifest is copied forward, the bad versions
    * stay readable for forensics until [[vacuum]], and the restore
    * itself is time-travelable like any commit. Fails fast if `v`
    * was vacuumed (its files are gone).
    */
  def restore(spark: SparkSession, path: String, v: Long): Long =
    withLock(spark, path, "restore") {
      checkNotVacuumed(spark, path, v)
      val m = readManifestFull(spark, path, v)
      val latest = latestVersion(spark, path)
      // the FULL state replays: partition records and deletion
      // vectors included (a restore to a DV-carrying version must not
      // resurrect its dead positions)
      val nv = commitFull(spark, path, latest + 1, m.copy(tag = None))
      maybeWriteChanges(spark, path, latest, nv)
      nv
    }

  /** Version diff — CDC between two table versions with IO
    * proportional to CHANGED FILES: files listed by BOTH manifests
    * cancel without being read (immutability makes name equality
    * content equality); only each side's exclusive files are scanned,
    * and the row-level diff is a multiset `exceptAll` over those
    * bounded frames. Both sides read under the by-name UNION of the
    * two manifests' schemas (`to`'s column order, `from`-only columns
    * appended) — evolution only ADDS columns, but [[restore]] can
    * re-commit an OLD, NARROWER schema, and projecting the wide side
    * down to it would let a row whose only change sits in the dropped
    * column cancel silently. Rows from files lacking a column read
    * NULL there. A delete that rewrote 2 of 100k files diffs by
    * reading 2 + their survivors — never the table.
    */
  def diff(spark: SparkSession, path: String, fromV: Long, toV: Long): DataFrame = {
    checkNotVacuumed(spark, path, fromV)
    checkNotVacuumed(spark, path, toV)
    val a = readManifestFull(spark, path, fromV)
    val b = readManifestFull(spark, path, toV)
    // identity is (name, deletion-vector set, applicable eq-delete
    // set): a file whose BYTES are shared but whose visible rows
    // changed (a DV or equality-delete commit, or a restore reverting
    // one) cancels only when BOTH visibility components match. DV-only
    // changes read back their newly-dead positions as 'removed'
    // (newly-live as 'added') WITHOUT paying an exceptAll; eq-state
    // changes pay a two-sided positional visibility compare over the
    // changed files, pruned to files whose key-column stats overlap a
    // DELTA sidecar's key bounds — IO stays proportional to the files
    // a delete could actually have touched
    val sharedNames = a.files.toSet intersect b.files.toSet
    val shared = sharedNames.filter(n =>
      a.dvs.getOrElse(n, Nil).toSet == b.dvs.getOrElse(n, Nil).toSet &&
        eqDirsFor(a, n) == eqDirsFor(b, n))
    val visChanged = sharedNames -- shared
    val eqChangedAll = visChanged.filter(n =>
      eqDirsFor(a, n) != eqDirsFor(b, n))
    val dvChanged = (visChanged -- eqChangedAll).toSeq.sorted
    val eqByDir = (a.eqd ++ b.eqd).map(e => e.dir -> e).toMap
    def mayTouch(m: Manifest, n: String, e: EqDelete): Boolean =
      e.keyCols.forall { c =>
        (m.stats.get(n).flatMap(_.get(c)), e.bounds.get(c)) match {
          case (Some(fb), Some(db)) => db.kind match {
            case "l" => overlaps(fb, db.min.toLong, db.max.toLong)
            case _ => overlaps(fb, db.min, db.max)
          }
          case _ => true
        }
      }
    val eqChanged = eqChangedAll.filter { n =>
      val da = eqDirsFor(a, n)
      val db = eqDirsFor(b, n)
      ((da diff db) ++ (db diff da))
        .exists(d => eqByDir.get(d).forall(e => mayTouch(b, n, e)))
    }.toSeq.sorted
    val onlyA = a.files.filterNot(sharedNames)
    val onlyB = b.files.filterNot(sharedNames)
    // by-name union: same-name columns keep one type within a log
    // (mergedSchema refuses retypes and restore only replays old
    // committed schemas), asserted here as defense in depth
    val unionSchema: Option[org.apache.spark.sql.types.StructType] =
      (a.schema, b.schema) match {
        case (Some(sa), Some(sb)) =>
          val inB = sb.fields.map(f => f.name -> f).toMap
          sa.fields.foreach { f =>
            inB.get(f.name).foreach { ex =>
              require(ex.dataType == f.dataType,
                s"TableLog.diff: column ${f.name} has type ${f.dataType} at " +
                  s"v$fromV but ${ex.dataType} at v$toV — cannot align")
            }
          }
          Some(org.apache.spark.sql.types.StructType(
            (sb.fields ++ sa.fields.filterNot(f => inB.contains(f.name)))
              .map(_.copy(nullable = true))))
        case (saOpt, sbOpt) => sbOpt.orElse(saOpt)
      }
    val mA = a.copy(schema = unionSchema.orElse(a.schema))
    val mB = b.copy(schema = unionSchema.orElse(b.schema))
    def side(m: Manifest, names: Seq[String]): DataFrame =
      if (names.isEmpty) emptyFrame(spark, path, mB)
      else readFilesDv(spark, path, m, names)
    // rows whose VISIBILITY flipped between the two versions' deletion
    // vectors, read by position from the (byte-shared) files: dead in
    // `to` but not `from` -> 'removed'; resurrected (a restore) ->
    // 'added'. Bounded: only the dvChanged files are opened.
    val dvDelta: Option[DataFrame] =
      if (dvChanged.isEmpty) None
      else {
        import spark.implicits._
        val nameF = broadcast(dvChanged.toDF("_tl_cn"))
        def posOf(m: Manifest): DataFrame =
          dvPosFrame(spark, path, m, dvChanged) match {
            case None => Seq.empty[(String, Long)].toDF("file", "pos")
            case Some(df) =>
              // dirs are shared across a commit's files: keep only the
              // changed files' positions so the except is sound
              df.join(nameF, col("file") === col("_tl_cn"), "left_semi")
          }
        val fromPos = posOf(mA)
        val toPos = posOf(mB)
        val rows = readFiles(spark, path, mB, dvChanged)
          .withColumn("_tl_fname", relNameCol(col("_metadata.file_path")))
          .withColumn("_tl_pos", col("_metadata.row_index"))
        def at(pos: DataFrame, change: String): DataFrame =
          rows.join(broadcast(pos),
            col("_tl_fname") === col("file") && col("_tl_pos") === col("pos"),
            "left_semi")
            .drop("_tl_fname", "_tl_pos")
            .withColumn("change", lit(change))
        val removed = at(toPos.exceptAll(fromPos), "removed")
        val added = at(fromPos.exceptAll(toPos), "added")
        Some(removed.unionByName(added))
      }
    // rows whose visibility flipped under a changed EQUALITY-DELETE
    // state: both sides' full visibility rules (dv + eq) evaluate
    // over the changed files and a positional anti-join isolates the
    // flips — general (covers mixed dv+eq changes), bounded by the
    // pruned file set
    val eqDelta: Option[DataFrame] =
      if (eqChanged.isEmpty) None
      else {
        def vis(m: Manifest): DataFrame =
          readFilesDvMeta(spark, path, m, eqChanged)
            .withColumn("_tl_dn", relNameCol(col("_tl_file")))
        val fromVis = vis(mA)
        val toVis = vis(mB)
        def flips(x: DataFrame, y: DataFrame, change: String): DataFrame =
          x.join(y.select(col("_tl_dn").as("_tl_dn2"),
            col("_tl_pos").as("_tl_pos2")),
            col("_tl_dn") === col("_tl_dn2") &&
              col("_tl_pos") === col("_tl_pos2"),
            "left_anti")
            .drop("_tl_dn", "_tl_file", "_tl_pos")
            .withColumn("change", lit(change))
        Some(flips(fromVis, toVis, "removed")
          .unionByName(flips(toVis, fromVis, "added")))
      }
    def withDv(df: DataFrame): DataFrame = {
      val d1 = dvDelta.map(df.unionByName(_, allowMissingColumns = true))
        .getOrElse(df)
      eqDelta.map(d1.unionByName(_, allowMissingColumns = true)).getOrElse(d1)
    }
    // one-sided fast paths: a pure APPEND's diff is exactly the new
    // files read with change='added' — no exceptAll, zero exchanges
    // (the dominant commit kind on a streaming-sink table); a pure
    // removal (deletePartition, a no-survivor delete) is the mirrored
    // 'removed' read. Only a genuine rewrite pays the multiset diff.
    if (onlyA.isEmpty && onlyB.isEmpty)
      withDv(emptyFrame(spark, path, mB).withColumn("change", lit("added")))
    else if (onlyA.isEmpty)
      withDv(side(mB, onlyB).withColumn("change", lit("added")))
    else if (onlyB.isEmpty)
      withDv(side(mA, onlyA).withColumn("change", lit("removed")))
    else {
      val avail = side(mA, onlyA)
      val bvail = side(mB, onlyB)
      withDv(bvail.exceptAll(avail).withColumn("change", lit("added"))
        .unionByName(avail.exceptAll(bvail).withColumn("change", lit("removed"))))
    }
  }

  /** Wall-clock commit time (epoch millis) of version `v`; None for
    * pre-round-13 manifests.
    */
  def commitTimestamp(spark: SparkSession, path: String, v: Long): Option[Long] =
    readManifestFull(spark, path, v).ts

  /** TIMESTAMP AS OF time travel: the newest version committed at or
    * before `tsMillis` — resolved by BINARY SEARCH over the committed
    * versions (commit times are monotone within a log: commits
    * serialize through the version CAS), O(log #versions) manifest
    * reads. Fails fast when every readable version is newer, and when
    * the resolved version predates the vacuum watermark.
    */
  def readAsOf(spark: SparkSession, path: String, tsMillis: Long): DataFrame =
    read(spark, path, Some(versionAt(spark, path, tsMillis)))

  /** Newest version committed at or before `tsMillis` — the
    * TIMESTAMP AS OF resolution. Binary search over the (monotone)
    * commit timestamps: O(log #versions) manifest reads, never a
    * walk.
    */
  def versionAt(spark: SparkSession, path: String, tsMillis: Long): Long = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"TableLog: no committed version at $path")
    def tsOf(v: Long): Long =
      readManifestFull(spark, path, v).ts.getOrElse(Long.MinValue)
    var lo = 0
    var hi = vs.length - 1
    require(tsOf(vs(lo)) <= tsMillis,
      s"TableLog.readAsOf: every readable version is newer than $tsMillis")
    while (lo < hi) { // invariant: ts(vs(lo)) <= tsMillis
      val mid = (lo + hi + 1) / 2
      if (tsOf(vs(mid)) <= tsMillis) lo = mid else hi = mid - 1
    }
    vs(lo)
  }

  /** Materialized CDC (Delta's change data feed): with
    * `spark.graft.tablelog.writeChangeFiles=true`, every REWRITE
    * commit (delete/update/merge/optimize/restore) also writes its
    * row-level change set as parquet under `_changes/vNNNNNNN/` —
    * computed AT COMMIT from the bounded [[diff]] (or known-empty for
    * content-preserving rewrites, so an OPTIMIZE never pays a
    * full-table multiset diff), published tmp + rename AFTER the
    * version CAS wins. [[changes]] then serves a long range
    * O(changed rows) with zero exceptAll recompute; a version without
    * a change dir (appends — their diff is already the zero-exchange
    * fast path — pre-feature history, or a crash between CAS and
    * rename) falls back to reconstruction. Test-visible serving
    * counter pins the counted-IO claim.
    */
  private[operators] def changeFilesEnabled(spark: SparkSession): Boolean =
    spark.conf.get("spark.graft.tablelog.writeChangeFiles", "false").toBoolean

  private[operators] object ChangeIo {
    private val served = new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.atomic.AtomicLong]()
    def bumpServed(path: String): Unit = {
      served.computeIfAbsent(path,
        _ => new java.util.concurrent.atomic.AtomicLong).incrementAndGet()
      ()
    }
    def servedMaterialized(path: String): Long =
      Option(served.get(path)).map(_.get).getOrElse(0L)
  }

  /** Write version `toV`'s change set (when the feature is on):
    * `known` short-circuits the diff for commits whose change set the
    * op already knows (content-preserving rewrites → empty).
    */
  private def maybeWriteChanges(
      spark: SparkSession, path: String, fromV: Long, toV: Long,
      known: Option[DataFrame] = None): Unit =
    if (changeFilesEnabled(spark)) {
      val df = known.getOrElse(diff(spark, path, fromV, toV))
      val f = fs(spark, path)
      val tmp = new Path(changesDir(path),
        s"_tmp_${java.util.UUID.randomUUID()}")
      df.write.mode("overwrite").parquet(tmp.toString)
      f.delete(changePath(path, toV), true)
      require(f.rename(tmp, changePath(path, toV)),
        "TableLog: change-file publish failed")
      ()
    }

  /** Zero-row change frame in the current schema's shape (what a
    * content-preserving rewrite materializes).
    */
  private def emptyChanges(
      spark: SparkSession, path: String, m: Manifest): DataFrame =
    emptyFrame(spark, path, m)
      .withColumn("change", lit(null).cast(org.apache.spark.sql.types.StringType))

  /** One version's change set: the materialized change dir when it
    * exists (no manifest read, no vacuum guard — materialized CDC
    * outlives retention), the reconstructed [[diff]] otherwise.
    */
  private def versionChanges(
      spark: SparkSession, path: String, v: Long): DataFrame = {
    val f = fs(spark, path)
    val cp = changePath(path, v)
    if (f.exists(cp)) {
      val ok =
        try Some(spark.read.parquet(cp.toString))
        catch { case scala.util.control.NonFatal(_) => None }
      ok match {
        case Some(df) => ChangeIo.bumpServed(path); df
        case None => diff(spark, path, v - 1, v) // unreadable debris
      }
    } else diff(spark, path, v - 1, v)
  }

  /** Change feed: every row-level change in versions (fromV, toV],
    * stamped with the version that committed it — the chain of
    * per-version change sets a downstream incremental consumer (index
    * maintenance, dashboard refresh) replays, and the batch surface
    * the streaming change-feed source
    * ([[graft.streaming.TableLogChangeFeed]]) emits micro-batches of.
    *
    * RANGE-SERVING plan shape (a 10k-version backfill replay must not
    * build a 10k-deep union tree):
    *
    *  - every MATERIALIZED version in the range serves from ONE
    *    multi-path parquet read over its change dirs, with
    *    `_commit_version` derived from the directory name in the file
    *    path — O(changed rows) IO, O(1) plan depth for the whole
    *    materialized set;
    *  - a RUN of consecutive unmaterialized PURE-APPEND versions (the
    *    dominant gap kind: appends never materialize — their diff is
    *    already the zero-exchange fast path) serves as ONE scan of all
    *    files added across the run, version-stamped by a broadcast
    *    (file -> version) join — O(1) plan depth per run;
    *  - only an unmaterialized REWRITE version (pre-feature history)
    *    pays a per-version [[diff]] reconstruction.
    *
    * Schemas may widen across the range (evolution), so change files
    * read under mergeSchema and the final union aligns by name with
    * NULL fill.
    */
  def changes(spark: SparkSession, path: String, fromV: Long, toV: Long): DataFrame = {
    require(toV > fromV,
      s"TableLog.changes: need toV > fromV, got ($fromV, $toV]")
    require(fromV >= 1L,
      "TableLog.changes: fromV must be >= 1 — version 1 is the CREATE " +
        "commit, there is no version 0 to diff from (read(path, Some(1)) " +
        "for the initial snapshot)")
    val f = fs(spark, path)
    val range = (fromV + 1 to toV)
    val materialized = range.filter(v => f.exists(changePath(path, v)))
    val matSet = materialized.toSet
    val matDf: Option[DataFrame] =
      if (materialized.isEmpty) None
      else {
        val attempt =
          try {
            val df = spark.read.option("mergeSchema", "true")
              .parquet(materialized.map(v => changePath(path, v).toString): _*)
              .withColumn("_commit_version",
                // greedy prefix: the LAST /_changes/vN/ component wins
                // even if the table path itself contains one
                regexp_extract(col("_metadata.file_path"),
                  ".*/_changes/v(\\d+)/", 1).cast("long"))
            df.schema // force footer resolution so debris fails HERE
            Some(df)
          } catch { case scala.util.control.NonFatal(_) => None }
        attempt.foreach(_ => materialized.foreach(_ =>
          ChangeIo.bumpServed(path)))
        attempt
      }
    // unmaterialized gap versions, grouped into runs of consecutive
    // versions; unreadable-debris ranges fall back wholesale
    val gapVersions =
      if (matDf.isDefined) range.filterNot(matSet.contains) else range
    val runs = gapVersions.foldLeft(List.empty[List[Long]]) {
      case (acc, v) => acc match {
        case head :: tail if head.last == v - 1 => (head :+ v) :: tail
        case _ => List(v) :: acc
      }
    }.reverse
    val gapDfs: Seq[DataFrame] = runs.flatMap { run =>
      val ms = ((run.head - 1) +: run).map(v =>
        v -> readManifestFull(spark, path, v)).toMap
      val pureAppendRun = run.forall { v =>
        val prev = ms(v - 1)
        val cur = ms(v)
        prev.files.forall(cur.files.toSet.contains) &&
          prev.dvs.filter(_._2.nonEmpty) == cur.dvs.filter(_._2.nonEmpty) &&
          prev.eqd == cur.eqd
      }
      if (pureAppendRun && run.size > 1) {
        // one scan of every file added across the run, stamped by a
        // broadcast (file -> version) map join
        import spark.implicits._
        val fileVer = run.flatMap { v =>
          val before = ms(v - 1).files.toSet
          ms(v).files.filterNot(before).map(_ -> v)
        }
        if (fileVer.isEmpty) Nil
        else {
          val last = ms(run.last)
          val df = readFiles(spark, path, last, fileVer.map(_._1))
            .withColumn("_tl_cf", relNameCol(col("_metadata.file_path")))
            .join(broadcast(fileVer.toDF("_tl_cn", "_commit_version")),
              col("_tl_cf") === col("_tl_cn"))
            .drop("_tl_cf", "_tl_cn")
            .withColumn("change", lit("added"))
          Seq(df)
        }
      } else run.map { v =>
        versionChanges(spark, path, v).withColumn("_commit_version", lit(v))
      }
    }
    val parts = matDf.toSeq ++ gapDfs
    if (parts.isEmpty)
      // every gap version was an empty pure-append run step — shape
      // from the endpoint manifest
      emptyChanges(spark, path, readManifestFull(spark, path, toV))
        .withColumn("_commit_version", lit(toV)).where(lit(false))
    else parts.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
  }

  /** History report: (version, n_rows) per READABLE version (vacuumed
    * versions are excluded) — the DESCRIBE HISTORY surface. Versions
    * whose manifest carries [[RowsKey]] counts for every file answer
    * from the MANIFEST alone (zero file opens — at 100k files the
    * difference between one small read and 100k footer GETs per
    * version); pre-stats manifests fall back to a count scan.
    */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val wm = vacuumWatermark(spark, path)
    val ck = newestCkpt(spark, path)
    val rows = ck.flatMap(c => c.history.map(h => (c.version, h))) match {
      case Some((cv, h)) =>
        // checkpointed history + the ≤ CheckpointEvery manifests since
        h.filter(_._1 >= wm) ++ versionsAbove(spark, path, cv).map { v =>
          v -> manifestRows(spark, path, readManifestFull(spark, path, v))
        }
      case None =>
        versions(spark, path).filter(_ >= wm).map { v =>
          v -> manifestRows(spark, path, readManifestFull(spark, path, v))
        }
    }
    rows.toDF("version", "n_rows")
  }

  /** Drop data files referenced by NO retained manifest and all
    * manifests older than `keepVersions` back from latest. Orphans
    * from crashed commits go with them. Ordering is crash-safe for
    * READERS: the retention watermark is published FIRST (tmp +
    * rename), then manifests are deleted, then files — so at every
    * crash point a dropped version either fails [[read]]'s watermark
    * guard or has no manifest, never a manifest whose files are gone.
    *
    * Crash-safe for lock-free WRITERS too (the Delta retention rule):
    * unreferenced data files and `_scratch_*` dirs are only deleted
    * when OLDER than `spark.graft.tablelog.retentionMs` (default
    * 10 min — keep it above your longest commit). An
    * [[appendOptimistic]]/[[appendBatchOptimistic]] takes no lock and
    * stages its files BEFORE winning the version CAS; without the age
    * horizon a concurrent vacuum (one `CALL tablelog.vacuum(...)`
    * away from any maintenance job) would sweep those just-staged
    * files as unreferenced and the appender's winning commit would
    * publish a manifest pointing at deleted data — every subsequent
    * read of the table throws. Fresh files survive the sweep; the
    * CAS then references them. Retention 0 restores the
    * everything-now sweep (safe only with no concurrent writers).
    */
  def vacuum(
      spark: SparkSession, path: String, keepVersions: Int = 2,
      roots: Seq[String] = Nil): Unit =
    withLock(spark, path, "vacuum") {
      require(keepVersions >= 1, "TableLog.vacuum: must keep at least the latest")
      // Crash-safe for multi-table TRANSACTIONS: a crashed
      // [[transaction]]'s staged files are legitimately OLD (the one
      // window the retention horizon cannot close), so roll forward
      // every pending intent mirrored at this table's `_log/` FIRST
      // (intents mirror to every participant precisely so a vacuum
      // anywhere can see them) — the staged files become referenced.
      // Without this, recovery after the sweep would commit manifests
      // pointing at deleted data.
      recoverTransactions(spark, path)
      val retentionMs = spark.conf
        .get("spark.graft.tablelog.retentionMs", "600000").toLong
      val horizon = System.currentTimeMillis() - retentionMs
      val f = fs(spark, path)
      val vs = versions(spark, path)
      val keep = vs.takeRight(keepVersions)
      // ROOT-PINNED versions stay fully retained (manifest + files +
      // sidecars) even below the retention window: each registered or
      // passed root's LATEST snapshot names the version a
      // [[readAtRoot]] reader resolves — sweeping it would break the
      // snapshot-isolation contract for long-lived pinned readers.
      // (Older root versions are NOT honored: the contract covers the
      // roots' current pins, and readAtRoot fails fast past it.)
      val rootPinned: Seq[Long] =
        (roots ++ registeredRoots(spark, path)).distinct.flatMap { r =>
          try rootSnapshot(spark, r).get(path)
          catch { case _: Exception => None }
        }.distinct
          .filterNot(keep.contains)
          .filter(v => f.exists(manifestPath(path, v)))
      // belt and braces: names staged into THIS table by any intent
      // that somehow survived recovery stay referenced
      val intentPinned = pendingIntents(spark, path).flatMap(_._3)
        .filter(_._1 == path).flatMap(_._2).toSet
      val keptManifests =
        (keep ++ rootPinned).map(readManifestFull(spark, path, _))
      val referenced = keptManifests.flatMap(_.files).toSet ++ intentPinned
      val referencedDvDirs =
        keptManifests.flatMap(_.dvs.valuesIterator.flatten).toSet
      val referencedEqDirs = keptManifests.flatMap(_.eqd.map(_.dir)).toSet
      // 0. checkpoint the full log state BEFORE dropping manifests: a
      // replayed batch whose version was vacuumed must still be
      // recognized as committed (exactly-once survives retention),
      // and history/latest stay serveable without the dropped
      // manifests
      if (vs.nonEmpty) writeCkpt(spark, path, vs.last)
      // 1. watermark first (atomic tmp+rename, monotone non-decreasing)
      if (keep.nonEmpty && keep.head > vacuumWatermark(spark, path)) {
        val tmp = new Path(logDir(path), "_tmp_watermark")
        val out = f.create(tmp, true)
        out.write(keep.head.toString.getBytes(UTF_8))
        out.close()
        f.delete(watermarkPath(path), false)
        require(f.rename(tmp, watermarkPath(path)),
          "TableLog.vacuum: watermark publish failed")
      }
      // 2. expired manifests — root-pinned ones survive individually
      vs.dropRight(keepVersions).filterNot(rootPinned.contains)
        .foreach(v => f.delete(manifestPath(path, v), false))
      // 3. unreferenced data files (parallel: object-store deletes are
      // per-file RPCs)
      if (f.exists(dataDir(path))) {
        // recursive: partitioned tables nest files under hive dirs,
        // and the manifest references them by RELATIVE path
        val dataUri = dataDir(path).toUri.getPath
        val it = f.listFiles(dataDir(path), true)
        val doomed = scala.collection.mutable.ArrayBuffer.empty[Path]
        while (it.hasNext) {
          val s = it.next()
          val rel = s.getPath.toUri.getPath.stripPrefix(dataUri).stripPrefix("/")
          if (s.isFile && !referenced.contains(rel) &&
            s.getModificationTime < horizon) doomed += s.getPath
        }
        perFile(doomed.toSeq) { p => f.delete(p, false) }
      }
      // crashed-commit scratch dirs are orphans too — but only AGED
      // ones: a live lock-free appender may be mid-stage in a fresh
      // scratch dir right now
      f.listStatus(new Path(path)).foreach { s =>
        if (s.isDirectory && s.getPath.getName.startsWith("_scratch_") &&
          s.getModificationTime < horizon)
          f.delete(s.getPath, true)
      }
      // deletion-vector sidecars: dirs no RETAINED manifest references
      // leave once aged (age-gating protects a concurrent
      // deleteWhereDV's freshly-staged sidecar, same as data files);
      // aged _tmp_ debris from a crashed sidecar publish goes too
      if (f.exists(dvDir(path))) {
        f.listStatus(dvDir(path)).foreach { s =>
          val n = s.getPath.getName
          val doomedDv =
            (!referencedDvDirs.contains(n)) && s.getModificationTime < horizon
          if (doomedDv) f.delete(s.getPath, true)
        }
      }
      // equality-delete sidecars sweep under the same rule (LIVE
      // entries only count — a pruned-but-retained manifest's dead
      // list entries are not rendered, so `eqd` here is the live set)
      if (f.exists(eqDir(path))) {
        f.listStatus(eqDir(path)).foreach { s =>
          val n = s.getPath.getName
          if (!referencedEqDirs.contains(n) && s.getModificationTime < horizon)
            f.delete(s.getPath, true)
        }
      }
      // materialized CDC retention: change dirs of vacuumed versions
      // leave with their manifests; aged tmp debris (a crashed
      // change-file publish) goes too
      if (f.exists(changesDir(path))) {
        val wm = vacuumWatermark(spark, path)
        f.listStatus(changesDir(path)).foreach { st =>
          val n = st.getPath.getName
          val doomedChange =
            (n.startsWith("v") &&
              (try n.stripPrefix("v").toLong < wm
              catch { case _: NumberFormatException => false })) ||
              (n.startsWith("_tmp_") && st.getModificationTime < horizon)
          if (doomedChange) f.delete(st.getPath, true)
        }
      }
      ()
    }
}
