package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The `file:` filesystem that `core-site.xml` registers: it must be the
  * one Hadoop resolves, and must behave as Hadoop's own local filesystem
  * where it replaces a subprocess with `java.nio`. */
class LocalFsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val tmp = Files.createTempDirectory("graft_localfs")
  override def afterAll(): Unit = FileUtils.deleteQuietly(tmp.toFile)

  private def local(name: String) = new Path(tmp.resolve(name).toString)
  private def posixBits(p: Path): String =
    PosixFilePermissions.toString(
      Files.getPosixFilePermissions(Paths.get(p.toUri.getPath)))

  test("file: resolves to the graft filesystems in both Hadoop APIs") {
    val fs = FileSystem.get(new URI("file:///"), new Configuration())
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[NioLocalFileSystem].getRaw
      .isInstanceOf[NioRawLocalFileSystem])
    val afs = FileContext.getLocalFSFileContext().getDefaultFileSystem
    assert(afs.isInstanceOf[NioLocalFs], afs.getClass)
  }

  test("create and mkdirs leave the umask-applied permission bits") {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", "027")
    val fs = FileSystem.newInstance(new URI("file:///"), conf)
    try {
      val umask = FsPermission.getUMask(conf)
      val dir = local("perm_dir")
      assert(fs.mkdirs(dir, new FsPermission("777")))
      assert(posixBits(dir) == new FsPermission("777").applyUMask(umask).toString)
      assert(posixBits(dir) == "rwxr-x---")
      val file = new Path(dir, "f")
      fs.create(file, new FsPermission("666"), true, 4096, 1.toShort,
        1L << 20, null).close()
      assert(posixBits(file) == "rw-r-----")
      assert(posixBits(new Path(dir, ".f.crc")) == "rw-r-----")
    } finally fs.close()
  }

  test("FileContext rename with OVERWRITE moves the file and its .crc") {
    val fc = FileContext.getLocalFSFileContext()
    def write(p: Path, body: String): Unit = {
      val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE,
        CreateFlag.OVERWRITE), Options.CreateOpts.createParent())
      try out.write(body.getBytes(UTF_8)) finally out.close()
    }
    val src = local("rename_src")
    val dst = local("rename_dst")
    write(src, "new contents")
    write(dst, "old")
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!Files.exists(tmp.resolve("rename_src")))
    assert(!Files.exists(tmp.resolve(".rename_src.crc")))
    assert(Files.exists(tmp.resolve(".rename_dst.crc")))
    // reading through the checksummed API verifies the moved .crc
    val in = fc.open(dst)
    try assert(new String(in.readAllBytes(), UTF_8) == "new contents")
    finally in.close()
  }

  test("getFileLinkStatus: symlinks keep Hadoop's answer, files equal getFileStatus") {
    val fs = FileSystem.get(new URI("file:///"), new Configuration())
    val target = local("link_target")
    Files.write(tmp.resolve("link_target"), "x".getBytes(UTF_8))
    Files.createSymbolicLink(tmp.resolve("link"), tmp.resolve("link_target"))
    val ls = fs.getFileLinkStatus(local("link"))
    assert(ls.isSymlink)
    assert(ls.getSymlink == fs.makeQualified(target))

    val st = fs.getFileStatus(target)
    val lt = fs.getFileLinkStatus(target)
    assert(!lt.isSymlink)
    assert(lt == st)
    assert(lt.getLen == st.getLen && lt.isFile && lt.getPermission == st.getPermission
      && lt.getModificationTime == st.getModificationTime)
  }

  test("a missing path throws FileNotFoundException from both overrides") {
    val raw = new NioRawLocalFileSystem
    raw.initialize(new URI("file:///"), new Configuration())
    val missing = local("does_not_exist")
    intercept[FileNotFoundException](raw.setPermission(missing, new FsPermission("644")))
    intercept[FileNotFoundException](raw.getFileLinkStatus(missing))
  }
}
