package graft.sources.catalog

import org.apache.hadoop.fs.{FileSystem, Path}

/** STAGE-AND-PUBLISH — the tail every data rewrite of a staging table
  * shares (RENAME COLUMN, the copy-on-write DELETE remainder, the delta
  * fold, OPTIMIZE, purge). The rewrite writes into an underscore-prefixed
  * staging dir under the table dir (invisible to data listings); its parts
  * move to their final names BEFORE the manifest that references them
  * commits, so a crash mid-move leaves unreferenced files, never a torn
  * version; and the staging dir is deleted however the rewrite ends. Only
  * a crashed process leaves one behind — [[Kinds]] is the one list of
  * staging prefixes VACUUM reclaims.
  */
private[catalog] object StagedRewrite {
  /** The rewrite kinds; kind `k` stages under `_k_<token>`. */
  val Kinds: Seq[String] = Seq("rename", "delete", "fold", "optimize", "purge")

  /** Is `name` the staging dir of some rewrite kind? */
  def isStagingDir(name: String): Boolean = Kinds.exists(k => name.startsWith(s"_${k}_"))

  /** Run `body(token, stagingDir)`, deleting the staging dir in finally. */
  def apply[T](fs: FileSystem, d: Path, kind: String)(body: (String, Path) => T): T = {
    require(Kinds.contains(kind), s"unknown rewrite kind $kind")
    val token = java.util.UUID.randomUUID().toString.take(12)
    val dir = new Path(d, s"_${kind}_$token")
    try body(token, dir) finally fs.delete(dir, true)
  }

  /** The `col=value` subdirs of a partitioned staging write, as (value, dir). */
  def partitions(fs: FileSystem, dir: Path, col: String): Seq[(String, Path)] =
    fs.listStatus(dir).toIndexedSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$col="))
      .map(s => s.getPath.getName.stripPrefix(s"$col=") -> s.getPath)

  /** Move the parquet parts directly under `dir` to the table-relative
    * names `target(partName, j)`, j counting parts in name order: listStatus
    * order is unspecified, and a writing task numbers its parts in row
    * order, which the twins of a fold or purge must keep. Returns the names.
    */
  def publish(fs: FileSystem, d: Path, dir: Path)(target: (String, Int) => String): Seq[String] =
    fs.listStatus(dir).toIndexedSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
      .zipWithIndex.map { case (f, j) =>
        val rel = target(f.getPath.getName, j)
        val t = new Path(d, rel)
        if (!fs.rename(f.getPath, t))
          throw new IllegalStateException(s"move ${f.getPath} -> $t failed")
        rel
      }
}
