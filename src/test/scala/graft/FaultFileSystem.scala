package graft

import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, FilterFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Test-only file system over `inner` that throws [[FaultFileSystem.Fault]]
  * INSTEAD of its `failAt`-th mutating call (create, rename, delete,
  * mkdirs), counting from 1; `failAt = 0` never throws. [[calls]] counts
  * the mutating calls seen so far, the thrown one included, so a clean run
  * measures how many calls a protocol makes and a crash harness can then
  * stop it before each one in turn. Non-mutating calls (exists, open,
  * listStatus) pass straight through. */
final class FaultFileSystem(inner: FileSystem, failAt: Int)
    extends FilterFileSystem(inner) {
  var calls = 0

  private def step(op: String, p: Path): Unit = {
    calls += 1
    if (calls == failAt)
      throw new FaultFileSystem.Fault(s"injected fault at call $calls: $op $p")
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    step("create", f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    step("rename", src); super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    step("delete", f); super.delete(f, recursive)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    step("mkdirs", f); super.mkdirs(f, permission)
  }

  override def mkdirs(f: Path): Boolean = {
    step("mkdirs", f); super.mkdirs(f)
  }
}

object FaultFileSystem {
  final class Fault(msg: String) extends java.io.IOException(msg)
}
