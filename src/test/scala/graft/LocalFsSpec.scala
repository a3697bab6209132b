package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileStatus, FileSystem,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Fixtures, NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem, Sessions}

/** The fork-free local filesystem ([[graft.core.NioLocalFileSystem]],
  * [[graft.core.NioLocalFs]]) behaves as Hadoop's stock one where the
  * program relies on it, and starts no process. */
class LocalFsSpec extends AnyFunSuite {
  import TestSpark.spark

  private def initialized(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val stock = initialized(new RawLocalFileSystem)
  private lazy val nio = initialized(new NioRawLocalFileSystem)

  private def tmp(prefix: String): java.io.File = Files.createTempDirectory(prefix).toFile

  private def modeOf(p: String): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))

  test("files and mkdirs get the modes stock RawLocalFileSystem sets") {
    val dir = tmp("graft_fs_modes")
    for (mode <- Seq("644", "755", "700")) {
      val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
      val modes = Seq("stock" -> stock, "nio" -> nio).map { case (tag, fs) =>
        val f = s"$dir/$tag-file-$mode"
        fs.create(new Path(f), perm, false, 4096, 1.toShort, 1L << 20, null).close()
        val d = s"$dir/$tag-dir-$mode/a/b"
        assert(fs.mkdirs(new Path(d), perm))
        (modeOf(f), modeOf(d), modeOf(s"$dir/$tag-dir-$mode"))
      }
      assert(modes(1) === modes(0), s"mode $mode")
      assert(modes(1)._1 === PosixFilePermissions.toString(PosixFilePermissions.fromString(
        perm.toString)), s"mode $mode")
    }
    Fixtures.rmTree(dir)
  }

  private def shape(s: FileStatus) =
    (s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen, s.getModificationTime,
      s.getPermission, if (s.isSymlink) Some(s.getSymlink) else None)

  test("getFileLinkStatus agrees with stock on a file, a directory and a symlink") {
    val dir = tmp("graft_fs_link")
    val file = new java.io.File(dir, "f")
    Files.writeString(file.toPath, "x")
    val sub = new java.io.File(dir, "d")
    sub.mkdir()
    val link = new java.io.File(dir, "l")
    Files.createSymbolicLink(link.toPath, file.toPath)
    for (f <- Seq(file, sub, link); p <- Seq(new Path(f.getPath), new Path(f.toURI)))
      assert(shape(nio.getFileLinkStatus(p)) === shape(stock.getFileLinkStatus(p)), p)
    assert(nio.getFileLinkStatus(new Path(link.getPath)).isSymlink)
    val missing = new Path(new java.io.File(dir, "missing").toURI)
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](nio.getFileLinkStatus(missing))
    Fixtures.rmTree(dir)
  }

  test("FileContext.rename without OVERWRITE onto an existing file throws") {
    val conf = new Configuration()
    Sessions.LocalFsConf.foreach { case (k, v) => conf.set(k.stripPrefix("spark.hadoop."), v) }
    val fc = FileContext.getFileContext(URI.create("file:///"), conf)
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    val dir = tmp("graft_fs_rename")
    def touch(name: String, body: String): Path = {
      val p = new Path(new java.io.File(dir, name).toURI)
      val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
      out.write(body.getBytes("UTF-8"))
      out.close()
      p
    }
    val a = touch("a", "first")
    val b = touch("b", "second")
    // HDFSMetadataLog's commit: a rename that must not replace a
    // batch file another writer already committed
    intercept[FileAlreadyExistsException](fc.rename(a, b, Options.Rename.NONE))
    assert(Files.readString(new java.io.File(dir, "b").toPath) === "second")
    val c = new Path(new java.io.File(dir, "c").toURI)
    fc.rename(a, c, Options.Rename.NONE)
    assert(Files.readString(new java.io.File(dir, "c").toPath) === "first")
    fc.rename(c, b, Options.Rename.OVERWRITE)
    assert(Files.readString(new java.io.File(dir, "b").toPath) === "first")
    Fixtures.rmTree(dir)
  }

  test("a parquet write and a checkpointed AvailableNow query start no process") {
    assert(FileSystem.get(URI.create("file:///"), spark.sessionState.newHadoopConf())
      .isInstanceOf[NioLocalFileSystem])
    val dir = tmp("graft_fs_forks")
    val src = s"$dir/src"
    val (n, forks) = ShellForks.during {
      spark.range(0, 1000).select((col("id") % 7).as("k"), col("id").as("v"))
        .repartition(4).write.parquet(src)
      val q = spark.readStream.schema("k LONG, v LONG").parquet(src)
        .groupBy(col("k")).agg(sum(col("v")).as("s"))
        .writeStream.format("memory").queryName("graft_fs_forks").outputMode("complete")
        .option("checkpointLocation", s"$dir/ckpt").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table("graft_fs_forks").count()
    }
    spark.catalog.dropTempView("graft_fs_forks")
    assert(n === 7)
    assert(new java.io.File(s"$dir/ckpt/commits/0").isFile)
    assert(forks === 0, "processes started from org.apache.hadoop.util.Shell")
    Fixtures.rmTree(dir)
  }
}
