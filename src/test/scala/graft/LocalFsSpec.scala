package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileContext, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager

/** The session's `file:` filesystem ([[NioLocalFileSystem]] and
  * [[NioLocalFs]]): it is the one Spark's writers and `FileContext`
  * get, it starts no process per file operation, and permissions and
  * symlinks read back as Hadoop's local filesystem reports them. */
class LocalFsSpec extends SparkSpec {

  private def conf = spark.sessionState.newHadoopConf()
  private def tmp(): java.nio.file.Path = Files.createTempDirectory("graft_localfs")

  /** Tasks the kernel has created since boot, threads included. */
  private def processesSinceBoot(): Long =
    Files.readAllLines(Paths.get("/proc/stat")).asScala
      .find(_.startsWith("processes ")).get.split(" ")(1).toLong

  test("the session's file: FileSystem and FileContext are the engine classes") {
    assert(FileSystem.getLocal(conf).getClass == classOf[NioLocalFileSystem])
    assert(new Path(tmp().toUri).getFileSystem(conf).getClass == classOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.getClass == classOf[NioLocalFs])
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem.getClass ==
      classOf[NioLocalFs])
  }

  test("creates, mkdirs and checkpoint atomic writes start no processes") {
    val root = tmp()
    val fs = FileSystem.getLocal(conf)
    val cfm = CheckpointFileManager.create(new Path(root.toUri), conf)
    val bytes = "{\"batchId\":0}".getBytes(StandardCharsets.UTF_8)
    def round(tag: String): Unit = {
      cfm.mkdirs(new Path(s"$root/$tag/c")) // streaming logs create their directory first
      (0 until 100).foreach { i =>
        val out = fs.create(new Path(s"$root/$tag/f/$i"))
        out.write(bytes)
        out.close()
        fs.mkdirs(new Path(s"$root/$tag/d/$i"))
        val atomic = cfm.createAtomic(new Path(s"$root/$tag/c/$i"), overwriteIfPossible = true)
        atomic.write(bytes)
        atomic.close()
      }
    }
    round("warm") // class loading and Hadoop's one-time setup stay out of the count
    val before = processesSinceBoot()
    round("counted")
    val started = processesSinceBoot() - before
    assert(started < 10, s"$started processes for 300 file operations")
    assert(Files.readAllBytes(Paths.get(s"$root/counted/c/99")).sameElements(bytes))
    // the checksum beside each file is written as before
    assert(Files.exists(Paths.get(s"$root/counted/f/.99.crc")))
  }

  test("permissions set at create read back through NIO and Hadoop") {
    val root = tmp()
    val fs = FileSystem.getLocal(conf)
    val file = new Path(s"$root/f")
    fs.create(file, new FsPermission("640"), true, 4096, 1.toShort, 1L << 25, null).close()
    val dir = new Path(s"$root/d")
    assert(fs.mkdirs(dir, new FsPermission("750")))
    def posix(p: Path) = PosixFilePermissions.toString(
      Files.getPosixFilePermissions(Paths.get(p.toString)))
    assert(posix(file) == "rw-r-----")
    assert(posix(dir) == "rwxr-x---")
    assert(fs.getFileStatus(file).getPermission == new FsPermission("640"))
    assert(fs.getFileStatus(dir).getPermission == new FsPermission("750"))
    assert(fs.getFileStatus(file).getOwner == System.getProperty("user.name"))
    // the sticky bit round-trips too
    fs.setPermission(dir, new FsPermission("1777"))
    assert(fs.getFileStatus(dir).getPermission.getStickyBit)
    assert(posix(dir) == "rwxrwxrwx")
    // FileContext's mkdir applies the same bits
    val fcDir = new Path(s"$root/fc")
    FileContext.getFileContext(conf).mkdir(fcDir, new FsPermission("750"), false)
    assert(posix(fcDir) == "rwxr-x---")
  }

  test("a rename onto an existing file fails, as under Hive's ProxyLocalFileSystem") {
    val root = tmp()
    val fs = FileSystem.getLocal(conf)
    val (a, b) = (new Path(s"$root/a"), new Path(s"$root/b"))
    fs.create(a).close()
    fs.create(b).close()
    assert(!fs.rename(a, b) && fs.exists(a))
    fs.delete(b, false)
    assert(fs.rename(a, b) && !fs.exists(a) && fs.exists(b))
  }

  test("getFileLinkStatus still reports a symlink as a symlink") {
    val root = tmp()
    val target = Files.write(root.resolve("target"), Array[Byte](1, 2, 3))
    val link = Files.createSymbolicLink(root.resolve("link"), target)
    val fs = FileSystem.getLocal(conf)
    val st = fs.getFileLinkStatus(new Path(link.toString))
    assert(st.isSymlink && !st.isDirectory && st.getLen == 3)
    assert(st.getSymlink == fs.makeQualified(new Path(target.toString)))
    assert(fs.getLinkTarget(new Path(link.toString)) == new Path(target.toString))
    assert(!fs.getFileLinkStatus(new Path(target.toString)).isSymlink)
    // getFileStatus follows the link
    assert(fs.getFileStatus(new Path(link.toString)).isFile)
    val fc = FileContext.getFileContext(conf)
    assert(fc.getFileLinkStatus(new Path(link.toString)).isSymlink)
    // a dangling link is still a link
    Files.delete(target)
    assert(fs.getFileLinkStatus(new Path(link.toString)).isSymlink)
  }
}
