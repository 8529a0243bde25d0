package graft.util

import org.apache.hadoop.fs.permission.{FsAction, FsPermission}
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}

/** Local filesystem whose `setPermission` never forks `/bin/chmod`.
  *
  * Hadoop 3.4's `RawLocalFileSystem.setPermission` has exactly two
  * paths: native-IO `chmod(2)` when libhadoop is loadable, else
  * `Shell.execCommand("chmod", ...)` — a fork+exec per created file or
  * directory. This image ships no libhadoop (the familiar
  * NativeCodeLoader warning), so every lock file, manifest, sidecar,
  * scratch dir and .crc twin cost a ~5–10 ms fork serialized on the
  * driver: a JFR recording of six TableLog lifecycle queries counted
  * 706 chmod forks in 43 s — the bulk of their between-jobs "driver
  * gap" (ProfileOne: 5.0 s of 8.6 s on q233 was outside all Spark
  * jobs).
  *
  * The override takes `FileUtil.setPermission`'s own pure-java
  * fallback (File.setReadable/setWritable/setExecutable — the path
  * FileUtil uses when group == other and native IO is absent) and
  * applies it in `RawLocalFileSystem.setPermission`'s place. Exotic
  * modes where group != other cannot be expressed through
  * java.io.File, so they fall back to the forking super — none occur
  * on the default-umask create/mkdirs paths (0644/0755).
  *
  * Scale posture: this tunes the LOCAL scratch filesystem only —
  * `fs.file.impl` governs `file://` paths; cluster tables live on
  * hdfs:// / s3:// whose clients never fork. Selected by
  * [[LocalSpark]]'s shared conf via
  * `spark.hadoop.fs.file.impl=graft.util.NoForkLocalFileSystem`.
  */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val group = permission.getGroupAction
    val other = permission.getOtherAction
    // sticky/setuid-class bits are not expressible through java.io.File
    // either — delegate them with the group != other modes
    if (group != other || permission.getStickyBit) super.setPermission(p, permission)
    else {
      val f = pathToFile(p)
      val user = permission.getUserAction
      def apply1(g: Boolean, u: Boolean, set: (Boolean, Boolean) => Boolean): Boolean = {
        var ok = set(g, false) // everyone
        if (g != u) ok &= set(u, true) // owner layered on top
        ok
      }
      // a failed java.io.File setter returns false where stock Hadoop's
      // chmod path throws IOException — fall back to the forking super
      // so failures stay loud instead of silently leaving wrong modes.
      // & not &&: apply all three before deciding, no short-circuit
      val ok =
        apply1(group.implies(FsAction.READ), user.implies(FsAction.READ),
          f.setReadable) &
        apply1(group.implies(FsAction.WRITE), user.implies(FsAction.WRITE),
          f.setWritable) &
        apply1(group.implies(FsAction.EXECUTE), user.implies(FsAction.EXECUTE),
          f.setExecutable)
      if (!ok) super.setPermission(p, permission)
    }
  }
}

/** The checksummed wrapper Spark expects for `file://` — identical to
  * stock [[LocalFileSystem]] but over the no-fork raw layer.
  */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)
