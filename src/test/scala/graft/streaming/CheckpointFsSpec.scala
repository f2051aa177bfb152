package graft.streaming

import graft.SparkSpec
import graft.streaming.CheckpointFs.{ImplKey, NioLocalFs, NioRawLocalFileSystem}
import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.EnumSet
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileStatus, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryException
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** [[CheckpointFs]]: the fork-free local filesystem is the stock one in
  * every observable respect — status fields, permission bits, the
  * checkpoint file set, checksum verification — and checkpoints move
  * between the two in either direction. */
class CheckpointFsSpec extends SparkSpec {

  private val Stock = classOf[LocalFs].getName
  private val Nio = classOf[NioLocalFs].getName

  private def rawFs(fs: FileSystem): FileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  private def fields(st: FileStatus) =
    (st.getPath, st.getLen, st.isDirectory, st.getModificationTime, st.getPermission,
      st.getOwner, st.getGroup, if (st.isSymlink) Some(st.getSymlink) else None,
      st.getReplication, st.getBlockSize)

  private def outcome(status: => FileStatus): Either[String, Any] =
    try Right(fields(status))
    catch { case e: FileNotFoundException => Left(e.getClass.getName) }

  test("file and link status match stock RawLocalFileSystem field by field") {
    val stock = rawFs(new RawLocalFileSystem)
    val nio = rawFs(new NioRawLocalFileSystem)
    val root = graft.TestDirs.dir("ckfs-status")
    val file = Files.write(root.resolve("file"), "abc".getBytes)
    val dir = Files.createDirectory(root.resolve("dir"))
    val sticky = Files.createDirectory(root.resolve("sticky"))
    nio.setPermission(new Path(sticky.toString), new FsPermission(Integer.parseInt("1777", 8).toShort))
    Files.createSymbolicLink(root.resolve("to-file"), file)
    Files.createSymbolicLink(root.resolve("to-dir"), dir)
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    val names = Seq("file", "dir", "sticky", "to-file", "to-dir", "dangling", "missing")
    // plain paths, as a FileSystem user passes them, and scheme-qualified
    // ones, as FileContext passes them
    for (name <- names; p <- Seq(root.resolve(name).toString, root.resolve(name).toUri.toString)) {
      val path = new Path(p)
      assert(outcome(nio.getFileStatus(path)) == outcome(stock.getFileStatus(path)),
        s"getFileStatus($p)")
      assert(outcome(nio.getFileLinkStatus(path)) == outcome(stock.getFileLinkStatus(path)),
        s"getFileLinkStatus($p)")
    }
    val plain = (n: String) => new Path(root.resolve(n).toString)
    assert(nio.getFileStatus(plain("sticky")).getPermission.getStickyBit)
    assert(nio.getFileLinkStatus(plain("to-dir")).isSymlink)
    assert(nio.getFileLinkStatus(plain("dangling")).isSymlink)
    assert(nio.getLinkTarget(plain("to-file")) == stock.getLinkTarget(plain("to-file")))
    for (fs <- Seq(stock, nio); probe <- Seq[Path => Any](fs.getFileStatus, fs.getFileLinkStatus))
      intercept[FileNotFoundException](probe(plain("missing")))
    graft.model.Fs.deleteRecursively(root)
  }

  test("FileContext creates files and directories with stock permission bits") {
    def tree(impl: String, umask: String): Map[String, String] = {
      val conf = new Configuration()
      conf.set(ImplKey, impl)
      conf.set("fs.permissions.umask-mode", umask)
      val fc = FileContext.getFileContext(URI.create("file:///"), conf)
      val root = graft.TestDirs.dir("ckfs-perm")
      val at = (rel: String) => new Path(root.resolve(rel).toUri)
      fc.mkdir(at("a/b"), FsPermission.getDirDefault, true)
      val out = fc.create(at("a/b/.0.tmp"), EnumSet.of(CreateFlag.CREATE))
      out.write("{}".getBytes); out.close()
      fc.rename(at("a/b/.0.tmp"), at("a/b/0"), Options.Rename.NONE)
      val walk = Files.walk(root)
      try walk.iterator.asScala.filter(_ != root).map(p =>
        root.relativize(p).toString ->
          java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      ).toMap
      finally { walk.close(); graft.model.Fs.deleteRecursively(root) }
    }
    for (umask <- Seq("022", "027")) {
      val stock = tree(Stock, umask)
      assert(stock.keySet == Set("a", "a/b", "a/b/0", "a/b/.0.crc"), stock)
      assert(tree(Nio, umask) == stock, s"umask $umask")
    }
  }

  private def ts(s: Long) = new Timestamp(1704067200000L + s * 1000)

  /** Runs the dedup pipeline (offset log, commit log, state store) on
    * `input` until idle under the given filesystem; returns the ids the
    * sink received. */
  private def runUnder(impl: String, input: MemoryStream[TestEvent], ck: String): Seq[Long] = {
    val got = mutable.Buffer.empty[Long]
    val had = spark.conf.getOption(ImplKey)
    spark.conf.set(ImplKey, impl)
    try {
      val q = MicroBatch.incrementalPipeline(input.toDF(), Seq("value"))
        .writeStream
        .option("checkpointLocation", ck)
        .foreachBatch { (df: DataFrame, _: Long) =>
          got ++= df.collect().map(_.getLong(0)); ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    } finally had.fold(spark.conf.unset(ImplKey))(spark.conf.set(ImplKey, _))
    got.toSeq
  }

  private def fileSet(ck: String): Set[String] = {
    val root = Paths.get(ck)
    val walk = Files.walk(root)
    try walk.iterator.asScala.map(p => root.relativize(p).toString).toSet
    finally walk.close()
  }

  test("a checkpoint restarts exactly once across the two filesystems, " +
    "either way, with the same file set") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val afterFirst = for ((first, second) <- Seq(Nio -> Stock, Stock -> Nio)) yield {
      val input = MemoryStream[TestEvent]
      val ck = graft.TestDirs.dir("ckfs-restart").toString
      input.addData(TestEvent(1, ts(0), "a", 1, "{}"), TestEvent(2, ts(1), "a", 2, "{}"),
        TestEvent(1, ts(2), "a", 1, "{}"), TestEvent(3, ts(3), "a", 3, "{}"))
      val run1 = runUnder(first, input, ck)
      val files1 = fileSet(ck)
      // 3 again, within the watermark: only the restored dedup state drops it
      input.addData(TestEvent(4, ts(4), "a", 4, "{}"), TestEvent(3, ts(5), "a", 3, "{}"))
      val run2 = runUnder(second, input, ck)
      assert(run1.sorted == Seq(1L, 2L, 3L), s"$first first run")
      assert(run2 == Seq(4L), s"$first -> $second restart delivered $run2")
      assert(files1.exists(_.endsWith(".crc")) && files1.contains("offsets/0"), files1)
      (files1, fileSet(ck))
    }
    assert(afterFirst(0)._1 == afterFirst(1)._1, "first-run checkpoint file sets differ")
    assert(afterFirst(0)._2 == afterFirst(1)._2, "post-restart checkpoint file sets differ")
  }

  test("one flipped byte in offsets/<n> fails the restart with ChecksumException") {
    // stock LocalFs would parse the flipped bytes: its FileContext.open
    // skips the `.crc` (see NioLocalFs.open)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TestEvent]
    val ck = graft.TestDirs.dir("ckfs-corrupt").toString
    input.addData(TestEvent(1, ts(0), "a", 1, "{}"))
    assert(runUnder(Nio, input, ck) == Seq(1L))
    val offsets = Paths.get(ck, "offsets")
    val last = Files.list(offsets).iterator.asScala.map(_.getFileName.toString)
      .filter(_.forall(_.isDigit)).maxBy(_.toLong)
    val bytes = Files.readAllBytes(offsets.resolve(last))
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 1).toByte
    Files.write(offsets.resolve(last), bytes)
    input.addData(TestEvent(2, ts(1), "a", 2, "{}"))
    val e = intercept[StreamingQueryException](runUnder(Nio, input, ck))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(_.isInstanceOf[ChecksumException]), e)
  }

  test("install registers the filesystem only over Hadoop's default LocalFs") {
    val had = spark.conf.getOption(ImplKey)
    def installedOver(current: Option[String]): String = {
      current.fold(spark.conf.unset(ImplKey))(spark.conf.set(ImplKey, _))
      CheckpointFs.install(spark)
      spark.conf.get(ImplKey)
    }
    try {
      assert(installedOver(None) == Nio)
      assert(installedOver(Some(Stock)) == Nio)
      assert(installedOver(Some(Nio)) == Nio)
      assert(installedOver(Some("org.example.OperatorFs")) == "org.example.OperatorFs")
    } finally had.fold(spark.conf.unset(ImplKey))(spark.conf.set(ImplKey, _))
  }

  test("both maintain writers start through the installing helper") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = MemoryStream[(Long, String)].toDF().toDF("doc_id", "text")
    val dir = graft.TestDirs.dir("ckfs-maintain").toString
    val had = spark.conf.getOption(ImplKey)
    try {
      for (writer <- Seq[() => Any](
          () => ArtifactMaintenance.lmArtifact(s"$dir/lm").maintain(docs),
          () => new ArtifactMaintenance.NearDupLabelStore(s"$dir/ndl").maintain(docs))) {
        spark.conf.unset(ImplKey)
        writer()
        assert(spark.conf.get(ImplKey) == Nio)
      }
    } finally had.fold(spark.conf.unset(ImplKey))(spark.conf.set(ImplKey, _))
  }
}
