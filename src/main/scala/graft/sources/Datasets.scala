package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** How a dataset dir becomes a cache key or a persisted store root.
  *
  * Every per-JVM model cache and every store family resolves its dataset
  * dir through here, so two spellings of one dir (`target/sf`,
  * `/abs/target/sf`, `file:/abs/target/sf`) share one model and one store,
  * and a table rewritten in place misses wherever its content is keyed.
  */
object Datasets {

  /** One spelling per dataset dir. A local or scheme-less path is resolved
    * to its canonical absolute path (symlinks and `..` removed); any other
    * scheme keeps its Hadoop-normalized URI, since `java.io.File` would
    * read `hdfs://nn/x` as a relative path under the working dir.
    */
  def canonical(d: String): String = {
    val p = new Path(d)
    val uri = p.toUri
    if (uri.getScheme == null || uri.getScheme == "file")
      try new java.io.File(uri.getPath).getCanonicalPath
      catch { case _: java.io.IOException => uri.getPath }
    else p.toString
  }

  /** Content fingerprint of table `table` under `d` ([[Tables.fingerprint]]). */
  def fingerprint(s: SparkSession, d: String, table: String): String =
    Tables.fingerprint(s, Tables.path(d, table))

  /** Key of a per-JVM cache over `table` of dataset `d`: the canonical dir
    * and the table's content fingerprint.
    */
  def key(s: SparkSession, d: String, table: String): String =
    s"${canonical(d)}@${fingerprint(s, d, table)}"

  /** Root of `family`'s persisted store for dataset `d`, built from
    * `tables` of `d`: `<tmpdir>/<family>/[<variant>_]<digest>`, the digest
    * covering the canonical dir, `formatVersion` and each table's
    * [[fingerprint]], so a table rewritten in place resolves to a new,
    * unbuilt root. Notes `d` in `StoreRegistry`, so the store reaper keeps
    * the stores of every dataset still on disk.
    */
  def storeRoot(s: SparkSession, family: String, variant: String, d: String,
      formatVersion: Int, tables: Seq[String]): String = {
    val canon = canonical(d)
    graft.operators.StoreRegistry.note(canon)
    val fp = tables.map(fingerprint(s, d, _)).mkString(",")
    val digest = md5hex(s"$canon@$fp:v$formatVersion")
    val tmp = sys.props.getOrElse("java.io.tmpdir", "/tmp")
    new java.io.File(new java.io.File(tmp, family),
      if (variant.isEmpty) digest else s"${variant}_$digest").toString
  }

  /** First 12 hex digits of the MD5 of `s`'s UTF-8 bytes. */
  def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
}
