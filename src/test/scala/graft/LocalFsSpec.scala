package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, Path => JPath}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.BeforeAndAfterAll

/** `Graft.session` resolves `file:` to `graft.LocalFs`'s fork-free shim for
  * both Hadoop APIs, and the shim answers as stock Hadoop does. */
class LocalFsSpec extends SparkSpec with BeforeAndAfterAll {

  private val Root = new URI("file:///")

  private val dirs = collection.mutable.Buffer[JPath]()
  private def tempDir(): JPath = {
    val d = Files.createTempDirectory("localfs-spec")
    dirs += d
    d
  }
  override def afterAll(): Unit = dirs.foreach(d => SessionMemo.deleteTree(d.toString))

  /** CPU ticks of this JVM's reaped child processes (`cutime + cstime`). */
  private def childTicks(): Long = {
    val stat = new String(Files.readAllBytes(Paths.get("/proc/self/stat")), UTF_8)
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
    f(13).toLong + f(14).toLong // fields 16 and 17; f(0) is field 3
  }

  /** `n` create-then-overwriting-rename cycles, the checkpoint commit's. */
  private def cycles(fc: FileContext, dir: JPath, n: Int): Unit = {
    val dst = new Path(dir.toUri.toString, "dst")
    (1 to n).foreach { i =>
      val tmp = new Path(dir.toUri.toString, s".tmp$i")
      val out = fc.create(tmp, java.util.EnumSet.of(CreateFlag.CREATE),
        Options.CreateOpts.createParent())
      out.write(s"cycle $i".getBytes(UTF_8))
      out.close()
      fc.rename(tmp, dst, Options.Rename.OVERWRITE)
    }
  }

  /** Stock Hadoop's and the shim's raw local filesystem. */
  private def raws(): (RawLocalFileSystem, RawLocalFileSystem) = {
    val pair = (new RawLocalFileSystem, new NioRawLocalFileSystem)
    pair._1.initialize(Root, new Configuration())
    pair._2.initialize(Root, new Configuration())
    pair
  }

  test("Graft.session resolves file: to the shim for FileSystem and FileContext") {
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(Root, conf).getClass == classOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(Root, conf).getDefaultFileSystem.getClass ==
      classOf[NioLocalFs])
  }

  test("create + overwriting rename spawns no child process through the shim") {
    val shim = FileContext.getFileContext(Root, spark.sessionState.newHadoopConf())
    cycles(shim, tempDir(), 5) // load classes before the count
    // Spark itself forks now and then (`rm -rf` of a closed RocksDB dir), so
    // one of three windows must be clean; a forking shim dirties every one
    def cleanWindow(): Boolean = {
      val before = childTicks()
      cycles(shim, tempDir(), 200)
      childTicks() == before
    }
    assert(cleanWindow() || cleanWindow() || cleanWindow(),
      "the shim forked a child process")
    // the probe sees stock Hadoop's chmod and readlink children
    val stock = FileContext.getFileContext(Root, new Configuration())
    val stockBefore = childTicks()
    cycles(stock, tempDir(), 50)
    assert(childTicks() > stockBefore, "stock Hadoop forked no child process")
  }

  test("setPermission sets the same mode bits as stock Hadoop") {
    val (stock, shim) = raws()
    val dir = tempDir()
    def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
    def twins(isDir: Boolean, perm: Int): (Int, Int) = {
      val ps = Seq("stock", "shim").map { s =>
        val p = dir.resolve(s"$s-${isDir}-${perm.toOctalString}")
        if (isDir) Files.createDirectory(p) else Files.createFile(p)
        p
      }
      stock.setPermission(new Path(ps(0).toString), new FsPermission(perm.toShort))
      shim.setPermission(new Path(ps(1).toUri.toString), new FsPermission(perm.toShort))
      (mode(ps(0)), mode(ps(1)))
    }
    for (perm <- Seq(0x180, 0x1a4, 0x1c0, 0x1ed, 0x1ff); isDir <- Seq(false, true)) {
      val (a, b) = twins(isDir, perm)
      assert(a == perm && b == perm, s"${perm.toOctalString} dir=$isDir")
    }
    // sticky bit: the shim hands it to the stock chmod
    assert(twins(isDir = true, 0x3ff) == ((0x3ff, 0x3ff)))
  }

  test("getFileLinkStatus answers as stock Hadoop on files, dirs and links") {
    val (stock, shim) = raws()
    val dir = tempDir()
    val file = Files.write(dir.resolve("file"), "x".getBytes(UTF_8))
    val sub = Files.createDirectory(dir.resolve("dir"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val missing = dir.resolve("missing")
    def view(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
      if (s.isSymlink) s.getSymlink else null, s.getLen, s.getPermission,
      s.getOwner, s.getGroup, s.getModificationTime)
    def ask(fs: RawLocalFileSystem, p: Path) =
      Try(view(fs.getFileLinkStatus(p))).toEither.left.map(_.getClass)
    for (p <- Seq(file, sub, link, dangling, missing);
         path <- Seq(new Path(p.toString), new Path(p.toUri.toString))) {
      assert(ask(shim, path) == ask(stock, path), path)
    }
    assert(ask(shim, new Path(link.toString)).exists(_._4), "a real link is a link")
    assert(ask(shim, new Path(dangling.toString)).exists(_._4))
    assert(ask(shim, new Path(missing.toString)) == Left(classOf[FileNotFoundException]))
  }

  test(".crc twins are written and renamed as stock Hadoop does") {
    def layout(fc: FileContext, fs: FileSystem): Map[String, Seq[Byte]] = {
      val dir = tempDir()
      cycles(fc, dir, 3)
      val a = new Path(dir.toUri.toString, "a")
      val out = fs.create(a)
      out.write("via FileSystem".getBytes(UTF_8))
      out.close()
      assert(fs.rename(a, new Path(dir.toUri.toString, "b")))
      val in = fc.open(new Path(dir.toUri.toString, "dst"))
      try assert(new String(in.readAllBytes(), UTF_8) == "cycle 3", "checksum-verified read")
      finally in.close()
      Files.list(dir).iterator.asScala.map(p =>
        p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap
    }
    val conf = spark.sessionState.newHadoopConf()
    val shim = layout(FileContext.getFileContext(Root, conf), FileSystem.get(Root, conf))
    val stockConf = new Configuration()
    val stockFs = FileSystem.newInstance(Root, stockConf)
    val stock = try layout(FileContext.getFileContext(Root, stockConf), stockFs)
      finally stockFs.close()
    assert(stock.keySet == Set("dst", ".dst.crc", "b", ".b.crc"))
    assert(shim == stock)
  }
}
