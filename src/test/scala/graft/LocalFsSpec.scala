package graft

import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The engine's `file:` filesystem ([[LocalFs]]) against the stock one:
  * each operation runs through both on the same temp directory, and the
  * stock filesystem reads back what both did.
  */
class LocalFsSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = SparkTestBase.spark

  private val file = URI.create("file:///")
  private def init[F <: FileSystem](fs: F): F = { fs.initialize(file, new Configuration()); fs }
  private lazy val stock = init(new RawLocalFileSystem)
  private lazy val nio = init(new NioRawLocalFileSystem)

  private val temps = scala.collection.mutable.ArrayBuffer.empty[NioPath]
  private def tempDir(): NioPath = { val d = Files.createTempDirectory("localfs"); temps += d; d }
  override def afterAll(): Unit = temps.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
  private def hpath(p: NioPath) = new Path(p.toUri)

  /** The fields a caller can read, path qualified. */
  private def fields(fs: FileSystem, s: FileStatus) =
    (fs.makeQualified(s.getPath), s.getLen, s.isDirectory, s.isSymlink, s.getPermission,
      s.getOwner, s.getGroup, s.getModificationTime, s.getAccessTime, s.getBlockSize,
      s.getReplication)

  private def assertSameStatus(p: Path): Unit =
    assert(fields(nio, nio.getFileStatus(p)) === fields(stock, stock.getFileStatus(p)), p)

  /** Run `op` through each filesystem on its own copy of `rel`, then read
    * both results with the stock filesystem.
    */
  private def sameEffect(rel: String)(op: (FileSystem, Path) => Unit): Unit = {
    val dir = tempDir()
    val (a, b) = (hpath(dir.resolve("stock").resolve(rel)), hpath(dir.resolve("nio").resolve(rel)))
    op(stock, a)
    op(nio, b)
    val (sa, sb) = (stock.getFileStatus(a), stock.getFileStatus(b))
    assert((sb.getLen, sb.isDirectory, sb.getPermission, sb.getOwner, sb.getGroup) ===
      (sa.getLen, sa.isDirectory, sa.getPermission, sa.getOwner, sa.getGroup), rel)
    assertSameStatus(b)
  }

  private def names(d: NioPath): Seq[String] = d.toFile.list.toSeq.sorted

  private def write(out: java.io.OutputStream, bytes: Int): Unit =
    try out.write(Array.fill[Byte](bytes)(7)) finally out.close()

  test("the shared session's FileSystem and FileContext are the NIO classes") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.getLocal(conf).getRawFileSystem.isInstanceOf[NioRawLocalFileSystem])
    val afs = FileContext.getFileContext(conf).getDefaultFileSystem
    assert(afs.isInstanceOf[NioLocalFs], afs.getClass)
    assert(afs.asInstanceOf[ChecksumFs].getRawFs.isInstanceOf[NioRawLocalFs])
    assert(afs.getUriDefaultPort === -1)
  }

  test("create and mkdirs with a permission match the stock filesystem") {
    for (mode <- Seq(0x1a4 /* 644 */, 0x180 /* 600 */, 0x1ed /* 755 */)) {
      val perm = new FsPermission(mode.toShort)
      sameEffect(s"f$mode")((fs, p) => write(fs.create(p, perm, true, 4096, 1.toShort, 1L << 20, null), 100))
      sameEffect(s"d$mode/sub")((fs, p) => assert(fs.mkdirs(p, perm)))
    }
  }

  test("setPermission and setOwner match the stock filesystem") {
    for (mode <- Seq(0x1ff /* 777 */, 0x1a0 /* 640 */, 0x124 /* 444 */, 0x3ff /* 1777 */)) {
      sameEffect(s"d$mode") { (fs, p) =>
        fs.mkdirs(p)
        fs.setPermission(p, new FsPermission(mode.toShort))
      }
    }
    val user = System.getProperty("user.name")
    sameEffect("owned") { (fs, p) =>
      write(fs.create(p), 3)
      fs.setOwner(p, user, stock.getFileStatus(p).getGroup)
      fs.setOwner(p, user, null)
    }
    val missing = hpath(tempDir().resolve("missing"))
    intercept[java.io.FileNotFoundException](nio.setPermission(missing, FsPermission.getFileDefault))
  }

  test("getFileStatus, listStatus and getFileLinkStatus match the stock filesystem") {
    val dir = tempDir()
    Files.write(dir.resolve("a"), Array.fill[Byte](10)(1))
    Files.createDirectory(dir.resolve("sub"))
    Files.write(dir.resolve("sub").resolve("b"), Array.emptyByteArray)
    Seq("a", "sub", "sub/b").foreach(r => assertSameStatus(hpath(dir.resolve(r))))

    def listing(fs: FileSystem, p: NioPath) = fs.listStatus(hpath(p)).map(fields(fs, _)).sortBy(_._1.toString).toSeq
    assert(listing(nio, dir) === listing(stock, dir))
    assert(listing(nio, dir.resolve("a")) === listing(stock, dir.resolve("a")))
    intercept[java.io.FileNotFoundException](nio.getFileStatus(hpath(dir.resolve("missing"))))

    // the stock link status reads the link with `readlink` on the bare path
    val link = dir.resolve("link")
    Files.createSymbolicLink(link, dir.resolve("a"))
    val bare = new Path(link.toString)
    val (s, n) = (stock.getFileLinkStatus(bare), nio.getFileLinkStatus(bare))
    assert(n.isSymlink && s.isSymlink && !n.isDirectory)
    assert(n.getSymlink === s.getSymlink)
    assert(nio.makeQualified(n.getPath) === stock.makeQualified(s.getPath))
    assert(nio.getLinkTarget(bare) === stock.getLinkTarget(bare))
    assert(fields(nio, nio.getFileLinkStatus(hpath(dir.resolve("a")))) ===
      fields(stock, stock.getFileStatus(hpath(dir.resolve("a")))))
  }

  test("the checksum layer creates, renames and deletes .crc files as the stock one") {
    val trails = Seq(new LocalFileSystem(stock), new NioLocalFileSystem).map { fs =>
      fs.initialize(file, new Configuration())
      val d = tempDir()
      write(fs.create(hpath(d.resolve("x"))), 1000)
      val created = names(d)
      assert(fs.rename(hpath(d.resolve("x")), hpath(d.resolve("y"))))
      val renamed = names(d)
      assert(fs.delete(hpath(d.resolve("y")), false))
      (created, renamed, names(d))
    }
    assert(trails(0) === (Seq(".x.crc", "x"), Seq(".y.crc", "y"), Seq.empty))
    assert(trails(1) === trails(0))
  }

  test("FileContext create, mkdir and rename(OVERWRITE) match the stock FileContext") {
    val nioConf = new Configuration()
    LocalFs.install(nioConf)
    val trails = Seq(new Configuration(), nioConf).map { conf =>
      val fc = FileContext.getFileContext(conf)
      val d = tempDir()
      val p = (r: String) => hpath(d.resolve(r))
      fc.mkdir(p("m/n"), FsPermission.getDirDefault, true)
      for (r <- Seq("m/n/tmp", "m/n/final"))
        write(fc.create(p(r), EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE)), 50)
      fc.rename(p("m/n/tmp"), p("m/n/final"), Options.Rename.OVERWRITE)
      val st = stock.getFileStatus(p("m/n/final"))
      (names(d.resolve("m/n")), st.getLen, st.getPermission, stock.getFileStatus(p("m/n")).getPermission)
    }
    assert(FileContext.getFileContext(nioConf).getDefaultFileSystem.isInstanceOf[NioLocalFs])
    assert(trails(0)._1 === Seq(".final.crc", "final"))
    assert(trails(1) === trails(0))
  }

  test("source guard: the file: scheme is configured only by the installer") {
    for (key <- Seq("fs.file.impl", "fs.AbstractFileSystem.file.impl")) {
      val hits = SparkTestBase.filesContaining("src/main/scala", key)
      assert(hits === Set("src/main/scala/graft/LocalFs.scala"),
        s"`$key` outside LocalFs.install: $hits")
    }
  }
}
