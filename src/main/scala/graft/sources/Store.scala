package graft.sources

import java.io.{File, FileInputStream, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.zip.{GZIPInputStream, GZIPOutputStream}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Keyed object store (SURVEY.md §2.1 S7; reference: `Store`
  * `utils/store.py:19-128` — dump/load of named objects as
  * pickle/json/gzip files under a folder, with `in`, `[]`, and
  * name iteration).
  *
  * Spark-first re-expression rather than a byte-for-byte port:
  *  - DataFrames — the engine's native "object" — store as PARQUET
  *    under the keyed prefix, so a stored result re-reads with column
  *    pruning and predicate pushdown (and at cluster scale the root is
  *    a shared object-store prefix; the reference's single-process
  *    pickle blob has no distributed analog worth copying).
  *  - Small named values (the reference's dicts of event-study stats,
  *    calibration params, …) store as JSON — the store.py `'json'` /
  *    `'gz'` formats; its `'pkl'` default is Python-object
  *    serialization with no JVM meaning, so JSON is this engine's
  *    interchange default and `gz = true` is the gzip twin.
  *
  * Values round-trip through a minimal JSON model: `Map[String, _]`,
  * `Seq[_]`, `String`, `Long`/`Int`, `Double`, `Boolean`, `null`.
  * (Ints come back as Long, the usual JSON-number convention.)
  */
class Store(folder: String, gz: Boolean = false) {
  private val root = new File(folder)
  require(root.isDirectory || root.mkdirs(), s"cannot create store folder $folder")

  // store.py pathname() parity (store.py:82-84): '<name>.json' in json
  // mode, '<name>.gz' in gz mode — a gz store written by either side is
  // visible to the other's load/contains/names.
  private val objExt = if (gz) ".gz" else ".json"
  private val otherExt = if (gz) ".json" else ".gz"
  // pre-store.py-parity Stores (and a python `gzip` of a '.json' file)
  // wrote '<name>.json.gz' — recognized as a third, read-only gzip
  // format so existing folders don't strand their entries behind the
  // extension change
  private val legacyGzExt = ".json.gz"

  /** Resolve a store-relative file name, rejecting names whose resolved
    * path escapes the store folder ('..' segments, absolute paths):
    * [[remove]] deletes recursively, so an unsanitized name would turn a
    * caller-supplied string into an arbitrary-directory delete.
    */
  private def resolved(fileName: String): File = {
    val f = new File(root, fileName)
    require(f.getCanonicalPath.startsWith(root.getCanonicalPath + File.separator),
      s"store name escapes the store folder: $fileName")
    f
  }

  /** Full path of a named small-value object (this store's format). */
  def pathname(name: String): String = resolved(name + objExt).getPath

  /** Full path of a named DataFrame materialization. */
  def framePath(name: String): String = resolved(name + ".parquet").getPath

  /** store.py `__contains__`: does `name` exist in ANY kind — this
    * store's object format, the sibling json/gz format, or a frame?
    */
  def contains(name: String): Boolean =
    resolved(name + objExt).exists() || resolved(name + otherExt).exists() ||
      resolved(name + legacyGzExt).exists() || resolved(name + ".parquet").exists()

  /** store.py `__iter__`: names present in the store, sorted. Unlike
    * store.py (which globs only its own extension), ALL object formats
    * are listed (json, gz, legacy json.gz) — a folder holding a python
    * `gzip`+`json.dump` entry next to plain-JSON ones reads as one
    * store.
    */
  def names: Seq[String] = {
    val fs = Option(root.listFiles()).getOrElse(Array.empty)
    fs.iterator.map(_.getName).collect {
      // legacy '.json.gz' FIRST: the bare '.gz' case would truncate it
      // to a corrupted '<name>.json'
      case n if n.endsWith(legacyGzExt) => n.dropRight(legacyGzExt.length)
      case n if n.endsWith(".json") => n.dropRight(5)
      case n if n.endsWith(".gz") => n.dropRight(3)
      case n if n.endsWith(".parquet") => n.dropRight(".parquet".length)
    }.toSeq.distinct.sorted
  }

  /** store.py `dump(obj, name)` for the engine's native object kind. */
  def dumpFrame(df: DataFrame, name: String): Unit =
    df.write.mode("overwrite").parquet(framePath(name))

  /** store.py `load(name)` for DataFrames — a parquet scan, not lineage. */
  def loadFrame(spark: SparkSession, name: String): DataFrame =
    spark.read.parquet(framePath(name))

  /** Read-first frame cache (SURVEY.md §2.1 S5; reference: the
    * `RedisDB.dump/load` `redisdb.py:60-81` result cache behind the
    * read-first `'r'/'w'` mode flags of `stocks.py:123-126` and the
    * `crsp.py:450-461` `cache_ret` pregeneration): the frame stored
    * under [[Store.cacheName]]`(op, args)` when present, else `build`
    * dumped there first. Either way the result is a parquet scan, so
    * downstream consumers get column pruning and pushdown instead of
    * recomputing the lineage, and a later session over the same folder
    * is served without building.
    */
  def cached(spark: SparkSession, op: String, args: Seq[Any])
            (build: => DataFrame): DataFrame = {
    val name = Store.cacheName(op, args)
    if (!new File(framePath(name)).exists()) dumpFrame(build, name)
    loadFrame(spark, name)
  }

  /** store.py `dump(obj, name)` for small named values (JSON / gzip).
    * A dump shadows any sibling/legacy-format entry of the same name, so
    * they are deleted first — otherwise a second Store handle of the
    * other format would keep resolving its own (now stale) file after an
    * overwrite.
    */
  def dump(obj: Any, name: String): Unit = {
    resolved(name + otherExt).delete(): Unit
    resolved(name + legacyGzExt).delete(): Unit
    // raw closes in its own finally: the gzip wrapper's constructor does
    // I/O (writes the header) and can throw before the inner try starts
    val raw = new FileOutputStream(pathname(name))
    try {
      val out = new OutputStreamWriter(
        if (gz) new GZIPOutputStream(raw) else raw, StandardCharsets.UTF_8)
      try out.write(StoreJson.render(obj)) finally out.close()
    } finally raw.close() // second close of the same fd is a no-op
  }

  /** store.py `load(name)` for small named values. Resolves this
    * store's own format first, then the sibling json/gz format (decoded
    * by ITS codec), so one Store reads a mixed-format folder.
    */
  def load(name: String): Any = {
    val own = resolved(name + objExt)
    val sibling = resolved(name + otherExt)
    val (file, gzipped) =
      if (own.exists()) (own, gz)
      else if (sibling.exists()) (sibling, !gz)
      else (resolved(name + legacyGzExt), true)
    // GZIPInputStream's constructor READS the header and throws on a
    // truncated/non-gzip file before any try could run, so raw closes in
    // its own finally
    val raw = new FileInputStream(file)
    try {
      val in = if (gzipped) new GZIPInputStream(raw) else raw
      try StoreJson.parse(new String(in.readAllBytes(), StandardCharsets.UTF_8))
      finally in.close()
    } finally raw.close()
  }

  /** Remove a named entry (all kinds; parquet dirs recursively). The
    * name is containment-checked by [[resolved]] before any delete.
    */
  def remove(name: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(): Unit
    }
    rm(resolved(name + objExt))
    rm(resolved(name + otherExt))
    rm(resolved(name + legacyGzExt))
    rm(resolved(name + ".parquet"))
  }
}

object Store {
  /** Deterministic filesystem-safe frame name for (op, args). */
  def cacheName(op: String, args: Seq[Any]): String = {
    val raw = op + "|" + args.mkString("|")
    val safe = op.replaceAll("[^A-Za-z0-9_-]", "_").take(40)
    f"$safe-${raw.hashCode & 0x7fffffff}%08x"
  }
}

/** JSON codec for [[Store]] values via the json4s bundled with Spark —
  * no extra dependency; the wire format matches store.py's `json.dump`
  * so a store written by either side reads from the other.
  */
private[sources] object StoreJson {
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  private def toJ(v: Any): JValue = v match {
    case null => JNull
    case m: scala.collection.Map[_, _] =>
      JObject(m.toList.map { case (k, x) => JField(String.valueOf(k), toJ(x)) })
    case s: scala.collection.Seq[_] => JArray(s.toList.map(toJ))
    case s: String => JString(s)
    case b: Boolean => JBool(b)
    case i: Int => JLong(i.toLong)
    case l: Long => JLong(l)
    case d: Double => JDouble(d)
    case f: Float => JDouble(f.toDouble)
    case other =>
      throw new IllegalArgumentException(
        s"Store values are JSON-representable (Map/Seq/String/Long/Double/Boolean/null); got ${other.getClass}")
  }

  private def fromJ(j: JValue): Any = j match {
    case JNull | JNothing => null
    case JObject(fs) => fs.map { case JField(k, v) => k -> fromJ(v) }.toMap
    case JArray(xs) => xs.map(fromJ)
    case JString(s) => s
    case JBool(b) => b
    case JLong(l) => l
    case JInt(i) => i.toLong
    case JDouble(d) => d
    case JDecimal(d) => d.toDouble
    case JSet(xs) => xs.map(fromJ)
  }

  def render(v: Any): String = JsonMethods.compact(JsonMethods.render(toJ(v)))
  def parse(s: String): Any = fromJ(JsonMethods.parse(s))
}
