package graft.lake

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[NoForkLocalFileSystem]] under the shipped session: the chmod Hadoop
  * issues for the umask-default modes (what every create and mkdirs
  * asks for) is skipped, and any other requested mode reaches disk. */
class FastLocalFsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def onDisk(p: Path): String =
    PosixFilePermissions.toString(
      Files.getPosixFilePermissions(Paths.get(p.toUri.getPath)))

  private def setOnDisk(p: Path, mode: String): Unit =
    Files.setPosixFilePermissions(Paths.get(p.toUri.getPath),
      PosixFilePermissions.fromString(mode))

  test("umask-default modes take no chmod; an explicit 0700 is honoured") {
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(TestSpark.tmpDir("fastfs"))
    val fs = dir.getFileSystem(conf)
    assert(fs.isInstanceOf[NoForkLocalFileSystem])
    val umask = FsPermission.getUMask(conf)
    val f = new Path(dir, "f.txt")
    fs.create(f).close()
    val d = new Path(dir, "sub")
    assert(fs.mkdirs(d))
    // a mode no default would produce: if the default-mode chmod ran,
    // it would overwrite it
    Seq(f -> FsPermission.getFileDefault, d -> FsPermission.getDirDefault)
      .foreach { case (p, default) =>
        setOnDisk(p, "rwx--x---")
        fs.setPermission(p, default.applyUMask(umask))
        assert(onDisk(p) == "rwx--x---", s"$p: default-mode chmod ran")
        fs.setPermission(p, new FsPermission("700"))
        assert(onDisk(p) == "rwx------", s"$p: explicit 0700 not applied")
      }
  }
}
