package graft.sources

import java.io.{File, IOException}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Write-once, content-keyed stored artifacts: the k-NN graphs, IVF/PQ
  * quantizers, edge tables, walks, clusters and chunk tables that an
  * expensive offline build persists next to the corpus and every
  * consumer then READS instead of re-deriving inside its own query.
  *
  * An artifact lives at `graft_fixtures/<tag>_<contentStamp>` under the
  * JVM temp dir. The tag names the build and its parameters (bump its
  * version when either changes); the [[Tables.contentStamp]] of the
  * source table busts it when the data is regenerated at the same path.
  * Every build is deterministic, so an artifact from any earlier
  * session is bit-identical to a fresh build.
  */
object Fixtures {

  private def root: File = new File(sys.props("java.io.tmpdir"), "graft_fixtures")

  private def complete(f: File): Boolean = new File(f, "_SUCCESS").exists()

  private def rm(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
  }

  /** The artifact `tag` of `dir/table`, built by `build` on first use
    * and read back from parquet on every call.
    *
    * The build is written into a process-private `.<key>.tmp.<pid>`
    * sibling and renamed into place, so a concurrently running process
    * can never observe, or clobber, a half-written artifact. POSIX
    * rename onto a non-empty dir fails: when it does and the dir is
    * complete, a concurrent builder won and its copy is used. A dir
    * without `_SUCCESS` is the leftover of a killed writer; it is
    * deleted and the rename tried once more.
    */
  def stored(s: SparkSession, dir: String, table: String, tag: String)(
      build: => DataFrame): DataFrame = {
    val key = s"${tag}_${Tables.contentStamp(dir, table)}"
    val path = new File(root, key)
    if (!complete(path)) {
      val tmp = new File(root, s".$key.tmp.${ProcessHandle.current().pid()}")
      try {
        build.write.mode("overwrite").parquet(tmp.toString)
        if (!tmp.renameTo(path) && !complete(path)) {
          rm(path)
          if (!tmp.renameTo(path) && !complete(path))
            throw new IOException(
              s"could not install fixture $path and no complete copy exists")
        }
      } finally rm(tmp)
    }
    s.read.parquet(path.toString)
  }
}
