package graft

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.security.UserGroupInformation
import org.scalatest.funsuite.AnyFunSuite

import graft.core.LocalFs

/** [[LocalFs]], the `file:` FileSystem `graft.sql.GraftExtensions`
  * installs: it sets the same permission bits as Hadoop's stock local
  * file system, without forking `chmod`. */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def octal(s: String): Int = Integer.parseInt(s, 8)
  private def perm(s: String) = new FsPermission(octal(s).toShort)

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & octal("7777")

  private def walk(root: JPath): Seq[JPath] = {
    val s = Files.walk(root)
    try s.iterator.asScala.toList finally s.close()
  }

  /** A stock checksummed local file system (forking `chmod` without the
    * native Hadoop library), uncached, under `conf`'s umask. */
  private def stockFs(conf: Configuration): LocalFileSystem = {
    val fs = new LocalFileSystem(new RawLocalFileSystem)
    fs.initialize(FileSystem.getDefaultUri(conf), conf)
    fs
  }

  private def nioFs(conf: Configuration): LocalFs = {
    val fs = new LocalFs
    fs.initialize(FileSystem.getDefaultUri(conf), conf)
    fs
  }

  test("the session's local file system is graft.core.LocalFs") {
    val fs = FileSystem.getLocal(spark.sessionState.newHadoopConf())
    assert(fs.getClass == classOf[LocalFs])
    assert(fs.getRaw.isInstanceOf[LocalFs.NioRawLocalFileSystem])
  }

  test("Spark and staged writes set the stock file system's bits") {
    val conf = spark.sessionState.newHadoopConf()
    val root = TestSpark.tmpPath("localfs_bits")
    // the stock file system writes a directory and a checksummed file
    // beside Spark's output, under the same umask
    val stock = stockFs(conf)
    val stockDir = new Path(root.resolve("stock").toUri)
    assert(stock.mkdirs(stockDir))
    stock.create(new Path(stockDir, "f")).close()
    val dirMode = mode(root.resolve("stock"))
    val fileMode = mode(root.resolve("stock/f"))
    assert(mode(root.resolve("stock/.f.crc")) == fileMode)

    def check(dir: JPath): Unit = {
      val entries = walk(dir)
      assert(entries.exists(_.getFileName.toString == "._SUCCESS.crc"))
      entries.foreach { p =>
        val want = if (Files.isDirectory(p)) dirMode else fileMode
        assert(mode(p) == want, s"$p: ${mode(p).toOctalString}")
      }
    }
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    df.write.parquet(root.resolve("spark").toString)
    check(root.resolve("spark"))
    graft.core.Tables.stagedScope {
      val back = graft.core.Tables.staged(df, "localfs_bits")
      check(java.nio.file.Paths.get(
        new java.net.URI(back.inputFiles.head)).getParent)
    }
  }

  test("LocalFs matches the stock bits under a non-default umask") {
    val conf = new Configuration(false)
    conf.set(FsPermission.UMASK_LABEL, "027")
    val root = TestSpark.tmpPath("localfs_umask")
    def write(fs: FileSystem, sub: String): Set[(String, Int)] = {
      val dir = new Path(root.resolve(sub).toUri)
      assert(fs.mkdirs(new Path(dir, "a/b")))
      fs.create(new Path(dir, "a/f")).close()
      fs.create(new Path(dir, "a/g"), perm("604"), true, 4096, 1.toShort,
        1L << 20, null).close()
      fs.setPermission(new Path(dir, "a/b"), perm("710"))
      val base = root.resolve(sub)
      walk(base).map(p => base.relativize(p).toString -> mode(p)).toSet
    }
    val stock = write(stockFs(conf), "stock")
    val nio = write(nioFs(conf), "nio")
    assert(nio == stock)
    // the umask applied (directories 0750, files 0640), not the
    // process's own
    assert(nio.contains("a" -> octal("750")))
    assert(nio.contains("a/f" -> octal("640")))
    assert(nio.contains("a/g" -> octal("600")))  // 0604 under the umask
    assert(nio.contains("a/b" -> octal("710")))
  }

  test("the sticky bit takes the stock path and is still set") {
    val dir = TestSpark.tmpPath("localfs_sticky")
    nioFs(new Configuration(false))
      .setPermission(new Path(dir.toUri), perm("1777"))
    assert(mode(dir) == octal("1777"))
  }

  test("installDefault keeps an explicit fs.file.impl and fills a missing one") {
    // the session caches this user's file: FileSystem before the
    // explicit conf below is looked up
    assert(spark.sparkContext.isLocal)
    val explicit = new Configuration(false)
    explicit.set(LocalFs.ImplKey, classOf[LocalFileSystem].getName)
    LocalFs.installDefault(explicit)
    assert(explicit.get(LocalFs.ImplKey) == classOf[LocalFileSystem].getName)
    val unset = new Configuration(false)
    LocalFs.installDefault(unset)
    assert(unset.get(LocalFs.ImplKey) == classOf[LocalFs].getName)
  }

  test("installDefault reports the cached class when another got there first") {
    // a user with no cached file: FileSystem yet, whose first lookup
    // resolves the explicit stock class: that stays cached for the user
    val ugi = UserGroupInformation.createRemoteUser("localfs-spec")
    val conf = new Configuration(false)
    conf.set(LocalFs.ImplKey, classOf[LocalFileSystem].getName)
    try {
      val inUse = ugi.doAs(
        new java.security.PrivilegedExceptionAction[Class[_]] {
          def run(): Class[_] = {
            FileSystem.getLocal(conf)
            LocalFs.installDefault(new Configuration(false))
          }
        })
      assert(inUse == classOf[LocalFileSystem])
    } finally FileSystem.closeAllForUGI(ugi)
  }
}
