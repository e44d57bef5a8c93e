package graft.table

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The local file system the table's driver write arm opens its parquet
  * files through (`GraftTable.writeRowsOnDriver` names it in its own
  * copy of the Hadoop configuration, uncached; the JVM-wide cached
  * `file:` file system Spark's tasks write through is untouched).
  *
  * It is Hadoop's raw local file system, so a file gets no `.crc`
  * checksum sidecar, with the permission call made a no-op: without
  * native IO, Hadoop sets a new file's permission by spawning `chmod`,
  * about 1.7 ms a file. A file keeps the mode the JVM creates it with,
  * 0666 under the process umask — 0644 under the usual umask of 022,
  * the mode Hadoop's `chmod` would set. */
final class DriverWriteFs extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = ()
}
