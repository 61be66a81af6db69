package graft.streaming

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.{GraftEngine, SparkTestBase}

/** The contract `HDFSMetadataLog` and the state stores rely on, held by
  * [[LocalCheckpointFileManager]] on local paths: atomic writes, no
  * overwrite unless asked, `.crc` sidecars that reads verify, and 0644
  * files. Other schemes get Spark's default manager. */
class CheckpointFileManagerSpec extends AnyFunSuite {

  private def withDir[T](f: JPath => T): T = {
    val dir = Files.createTempDirectory("ckpt-fm")
    try f(dir)
    finally Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
  }

  private def manager(dir: JPath): CheckpointFileManager =
    new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())

  private def write(fm: CheckpointFileManager, p: Path, text: String,
      overwrite: Boolean = false): Unit = {
    val out = fm.createAtomic(p, overwriteIfPossible = overwrite)
    out.write(text.getBytes("UTF-8"))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  private def names(dir: JPath): Set[String] =
    Files.list(dir).iterator.asScala.map(_.getFileName.toString).toSet

  test("local paths get Spark's filesystem-based manager") {
    withDir { dir =>
      val fm = manager(dir).asInstanceOf[LocalCheckpointFileManager]
      assert(fm.underlying.isInstanceOf[FileSystemBasedCheckpointFileManager])
      assert(fm.isLocal)
    }
  }

  test("an atomic write is visible only once closed, and a cancelled one leaves nothing") {
    withDir { dir =>
      val fm = manager(dir)
      val done = new Path(dir.toUri.toString, "0")
      val out = fm.createAtomic(done, overwriteIfPossible = false)
      out.write("v1".getBytes("UTF-8"))
      assert(!fm.exists(done))
      out.close()
      assert(read(fm, done) == "v1")

      val cancelled = new Path(dir.toUri.toString, "1")
      val out2 = fm.createAtomic(cancelled, overwriteIfPossible = false)
      out2.write("partial".getBytes("UTF-8"))
      out2.cancel()
      assert(!fm.exists(cancelled))
      assert(names(dir) == Set("0", ".0.crc"))
    }
  }

  test("overwriteIfPossible=false on an existing file throws Hadoop's FileAlreadyExistsException") {
    withDir { dir =>
      val fm = manager(dir)
      val p = new Path(dir.toUri.toString, "0")
      write(fm, p, "first")
      val e = intercept[Exception](write(fm, p, "second"))
      assert(e.isInstanceOf[FileAlreadyExistsException], e.toString)
      assert(read(fm, p) == "first")
      write(fm, p, "third", overwrite = true)
      assert(read(fm, p) == "third")
    }
  }

  test("writes a .crc sidecar, and a corrupted file fails to read with ChecksumException") {
    withDir { dir =>
      val fm = manager(dir)
      val p = new Path(dir.toUri.toString, "0")
      write(fm, p, "offsets v1 {\"a\":1}")
      assert(Files.exists(dir.resolve(".0.crc")))
      val file = dir.resolve("0")
      val bytes = Files.readAllBytes(file)
      bytes(3) = (bytes(3) ^ 0x01).toByte
      Files.write(file, bytes)
      intercept[ChecksumException](read(fm, p))
    }
  }

  test("files and their sidecars are created with mode 0644") {
    withDir { dir =>
      val fm = manager(dir)
      write(fm, new Path(dir.toUri.toString, "0"), "x")
      for (f <- Seq("0", ".0.crc"))
        assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(dir.resolve(f))) ==
          "rw-r--r--", f)
    }
  }

  test("a non-file scheme gets Spark's default manager") {
    withDir { dir =>
      // a local-only stand-in for a remote scheme: FileContext resolves it
      // through its own AbstractFileSystem, as it would hdfs: or s3a:
      val conf = new Configuration()
      conf.set("fs.AbstractFileSystem.ckpttest.impl", "org.apache.hadoop.fs.local.LocalFs")
      conf.set(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)
      val fm = CheckpointFileManager.create(new Path(s"ckpttest://${dir.toUri.getPath}"), conf)
      assert(fm.asInstanceOf[LocalCheckpointFileManager].underlying
        .isInstanceOf[FileContextBasedCheckpointFileManager])
    }
  }

  test("a path without a scheme is local only under a file: default filesystem") {
    val conf = new Configuration()
    assert(LocalCheckpointFileManager.isLocalPath(new Path("/ckpt/q1"), conf))
    conf.set("fs.defaultFS", "hdfs://namenode:8020")
    assert(!LocalCheckpointFileManager.isLocalPath(new Path("/ckpt/q1"), conf))
    assert(LocalCheckpointFileManager.isLocalPath(new Path("file:/ckpt/q1"), conf))
  }

  test("a streaming plan installs the manager unless one is already configured") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = LocalCheckpointFileManager.ConfKey
    val before = spark.conf.getOption(key)
    val stream = Map("stream" -> MemoryStream[PEv].toDF())
    try {
      val userSet = classOf[FileContextBasedCheckpointFileManager].getName
      spark.conf.set(key, userSet)
      GraftEngine.sql("SELECT user_id FROM stream", stream)
      assert(spark.conf.get(key) == userSet)
      spark.conf.unset(key)
      GraftEngine.sql("SELECT user_id FROM stream", Map("stream" -> spark.range(1).toDF("user_id")))
      assert(spark.conf.getOption(key).isEmpty, "a batch plan must not install it")
      GraftEngine.sql("SELECT user_id FROM stream", stream)
      assert(spark.conf.get(key) == classOf[LocalCheckpointFileManager].getName)
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
