package graft.ops

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** One small UTF-8 parameter file beside a persisted index — the file
  * I/O under both index protocols: the LSH band index's
  * `_graft_lsh_params` ([[Dedup.appendBandIndex]]: sibling pending
  * file, adopt on appends) and the ANN index's `_graft_ann_params`
  * ([[AnnIndex]]: delete first, write last, never adopt). The protocols
  * stay with their owners; this is only path, read, write, delete and
  * the compare-and-throw.
  */
private[ops] final case class ParamsSidecar(spark: SparkSession, path: Path) {
  private def fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists: Boolean = fs.exists(path)

  def read(): String = {
    val in = fs.open(path)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  def write(content: String): Unit = {
    val out = fs.create(path, true)
    try out.write(content.getBytes(UTF_8)) finally out.close()
  }

  def delete(): Unit = if (exists) { val _ = fs.delete(path, false) }

  /** Reads the file and throws `IllegalArgumentException(mismatch(got,
    * want))` when it differs from `want`; both reach `mismatch` flattened
    * to one line.
    */
  def requireSame(want: String)(mismatch: (String, String) => String): Unit = {
    val got = read()
    if (got != want) throw new IllegalArgumentException(mismatch(
      got.trim.replace('\n', ' '), want.trim.replace('\n', ' ')))
  }
}

private[ops] object ParamsSidecar {
  def apply(spark: SparkSession, dir: String, name: String): ParamsSidecar =
    ParamsSidecar(spark, new Path(dir, name))
}
