package graft.sinks

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** File-system listings shared across the sinks. The committed-id
  * listing serves the `<prefix><id>/_SUCCESS` commit layout
  * [[CowTable]] and [[SnapshotTarget]] both use — extracted in
  * r20 (review): the glob optimization had been applied twice in
  * parallel, and the identical ~20 lines (metachar guard string
  * included) would otherwise have to be fixed twice forever.
  *
  * ONE FS metadata call (a glob over the `_SUCCESS` markers) instead
  * of a listing plus one exists-probe per dir (guide §6): neutral on
  * a local FS, a round-trip per probe saved at object-store commit
  * rates — this is the hottest listing in the engine (every
  * currentManifest / frontier poll starts here). Roots containing
  * glob metacharacters keep the probe-per-dir path (a glob would
  * misread them as patterns).
  *
  * File-source listing: [[leafFiles]] and [[listDataFiles]] apply the
  * hidden-name rule Spark's file index lists a parquet path with, so
  * the driver-side footer reads (commit entries, row counts, schemas)
  * see the files a `spark.read.parquet` of a Spark-written table sees.
  */
object FsListing {

  private val GlobMeta = "*?[]{}\\"

  /** Every file under `dir` that Spark's file index lists, one listing
    * per directory (`InMemoryFileIndex.shouldFilterOutPathName`): names
    * starting with `_` or `.` and `._COPYING_` leftovers are skipped,
    * except `k=v` partition directories and the parquet summary files
    * (`_metadata`, `_common_metadata`). A file path lists as itself; Nil
    * when `dir` is absent.
    */
  def leafFiles(fs: FileSystem, dir: Path): Seq[FileStatus] = {
    val listed =
      try fs.listStatus(dir).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    listed.flatMap { s =>
      val n = s.getPath.getName
      val hidden = (n.startsWith("_") && !n.contains("=")) ||
        n.startsWith(".") || n.endsWith("._COPYING_")
      if (hidden && !n.startsWith("_common_metadata") &&
          !n.startsWith("_metadata")) Nil
      else if (s.isDirectory) leafFiles(fs, s.getPath)
      else Seq(s)
    }
  }

  /** The data files a parquet read of `dir` scans: [[leafFiles]] minus
    * the summary files (the file index's `isDataPath`), so a nested
    * `__dv` sidecar dir is not absorbed either.
    */
  def listDataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    leafFiles(fs, dir).filterNot { s =>
      val n = s.getPath.getName
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")
    }

  private[sinks] def committedIdsUnder(
      fs: FileSystem, root: String, prefix: String): Seq[Long] = {
    val rootPath = new Path(root)
    if (root.exists(GlobMeta.contains(_))) {
      if (!fs.exists(rootPath)) Nil
      else
        fs.listStatus(rootPath).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
          .flatMap(s => s.getPath.getName.stripPrefix(prefix).toLongOption
            .filter(_ => fs.exists(new Path(s.getPath, "_SUCCESS"))))
          .sorted
    } else
      Option(fs.globStatus(new Path(rootPath, s"$prefix*/_SUCCESS")))
        .map(_.toSeq).getOrElse(Nil)
        .flatMap(s => s.getPath.getParent.getName
          .stripPrefix(prefix).toLongOption)
        .sorted
  }
}
