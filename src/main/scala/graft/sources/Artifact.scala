package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one mechanism for every derived artifact: warehouse tables (index
  * codes, postings, shingle/signature sets, eval truth, the memory table)
  * and driver-side values (corpus statistics, probed-list sets, learned
  * rotations). An artifact is keyed by the DATA it derives from:
  *
  *   graft_<kind><params>_<16-hex path hash>_<8-hex source signature>
  *
  * so a source regenerated in place within a live session re-keys and
  * rebuilds instead of serving stale results, and nothing can be cached
  * without a key (reuse across a session pays off only when it is keyed
  * to the data version). Builds are single-flight per key: concurrent
  * callers of one key wait for one build; different keys build in
  * parallel. Building a new generation retires every generation of the
  * same (kind, params, path) older than the one it supersedes — tables
  * are dropped with their files, values forgotten — and keeps the
  * immediately previous one, so a reader that already resolved it can
  * finish. The physical layout stays the caller's: `write` receives the
  * table name and picks its own writer ([[Warehouse.writeBucketed]],
  * [[Warehouse.writePartitionedTable]], [[Warehouse.writeTable]], ...).
  */
object Artifact {

  /** 8-hex data signature of `sources` under `dir`: md5 over (relative
    * name, length, mtime) of every part file of every source, read
    * through the Hadoop FileSystem of the source path, so it works on
    * whatever filesystem holds the data. Driver-side metadata only — no
    * data read. Hidden (`.`) and marker (`_`) files are not part files.
    * A missing source throws, naming its path: an artifact of absent
    * data is an error, never an empty signature. */
  def signature(spark: SparkSession, dir: String, sources: Seq[String]): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def parts(fs: org.apache.hadoop.fs.FileSystem, p: Path, prefix: String): Seq[(String, FileStatus)] =
      fs.listStatus(p).toSeq
        .filterNot(s => s.getPath.getName.startsWith(".") || s.getPath.getName.startsWith("_"))
        .sortBy(_.getPath.getName)
        .flatMap { s =>
          val name = prefix + s.getPath.getName
          if (s.isDirectory) parts(fs, s.getPath, name + "/") else Seq(name -> s)
        }
    sources.foreach { src =>
      val p = new Path(s"$dir/$src")
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p))
        throw new java.io.FileNotFoundException(s"artifact source missing: $p")
      parts(fs, p, "").foreach { case (name, s) =>
        md5.update(s"$name:${s.getLen}:${s.getModificationTime};".getBytes("UTF-8"))
      }
    }
    md5.digest().take(4).map(b => f"$b%02x").mkString
  }

  /** 16-hex path hash: 64 bits of the md5 of the absolute path (a 32-bit
    * String.hashCode collided at ~2^16 dirs — and a collision silently
    * serves the wrong index). */
  private def pathHash(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(new java.io.File(dir).getAbsolutePath.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString

  private def key(kind: String, params: String, dir: String, sig: String): String =
    s"graft_$kind${params}_${pathHash(dir)}_$sig"

  /** The artifact table of (kind, params) over `sources` under `dir`,
    * built by `write(tableName)` when this session's catalog lacks it. */
  def table(spark: SparkSession, kind: String, dir: String, sources: Seq[String],
            params: String = "")(write: String => Unit): DataFrame =
    spark.table(build(spark, Seq(kind), dir, sources, params)(ts => write(ts.head)).head)

  /** The names of the `kinds` tables, built first if missing: for tables
    * one `write` builds together (a trained index and its centroids: one
    * key, one build, one generation) and for an artifact read by path
    * rather than through the catalog. */
  def build(spark: SparkSession, kinds: Seq[String], dir: String, sources: Seq[String],
            params: String = "")(write: Seq[String] => Unit): Seq[String] = {
    val sig = signature(spark, dir, sources)
    val names = kinds.map(key(_, params, dir, sig))
    def built = names.forall(spark.catalog.tableExists)
    if (!built) retire(spark, singleFlight(names.head) {
      if (built) Nil
      else {
        write(names)
        supersede(names.head, names)
      }
    })
    names
  }

  /** A driver-side value derived from `sources` (a statistic, an id set,
    * a learned matrix), computed once per key. */
  def value[T](spark: SparkSession, kind: String, dir: String, sources: Seq[String],
               params: String = "")(compute: => T): T = {
    val k = key(kind, params, dir, signature(spark, dir, sources))
    val hit = values.get(k)
    (if (hit != null) hit else singleFlight(k) {
      if (!values.containsKey(k)) {
        values.put(k, compute)
        retire(spark, supersede(k, Nil))
      }
      values.get(k)
    }).asInstanceOf[T]
  }

  private val locks = new ConcurrentHashMap[String, AnyRef]
  private val values = new ConcurrentHashMap[String, Any]
  /** (kind, params, path) -> its generations as (key, tables owned),
    * oldest first. Guarded by this object's monitor. */
  private val generations =
    scala.collection.mutable.Map.empty[String, Vector[(String, Seq[String])]]

  private def singleFlight[T](key: String)(body: => T): T =
    locks.computeIfAbsent(key, _ => new Object).synchronized(body)

  /** Record `key` as its family's newest generation; returns the keys
    * (with their tables) older than the previous one, to [[retire]]. The
    * family is the key without its signature. */
  private def supersede(key: String, tables: Seq[String]): Seq[(String, Seq[String])] =
    synchronized {
      val family = key.dropRight(9)
      val gens = generations.getOrElse(family, Vector.empty).filterNot(_._1 == key) :+ (key -> tables)
      generations(family) = gens.takeRight(2)
      gens.dropRight(2)
    }

  /** Forget retired values and drop retired tables with their files.
    * [[build]] calls it after releasing the new generation's lock, so
    * readers waiting on that build do not also wait for the drops. */
  private def retire(spark: SparkSession, stale: Seq[(String, Seq[String])]): Unit =
    stale.foreach { case (k, ts) =>
      values.remove(k)
      locks.remove(k)
      ts.foreach(Warehouse.dropStale(spark, _))
    }
}
