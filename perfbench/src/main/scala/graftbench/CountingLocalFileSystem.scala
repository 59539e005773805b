package graftbench

import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** The local filesystem with its metadata operations counted:
  * getFileStatus (and so exists/isDirectory), listStatus, open, rename,
  * delete and mkdirs. Installed as `fs.file.impl` in traced runs only;
  * each operation is attributed by the active [[Tracer]]. */
class CountingLocalFileSystem extends LocalFileSystem {
  private def op(): Unit = { val t = CountingLocalFileSystem.tracer; if (t != null) t.fsOp() }
  override def getFileStatus(f: Path) = { op(); super.getFileStatus(f) }
  override def listStatus(f: Path) = { op(); super.listStatus(f) }
  override def open(f: Path, bufferSize: Int) = { op(); super.open(f, bufferSize) }
  override def rename(src: Path, dst: Path) = { op(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean) = { op(); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission) = { op(); super.mkdirs(f, permission) }
}

object CountingLocalFileSystem {
  @volatile var tracer: Tracer = null
}
