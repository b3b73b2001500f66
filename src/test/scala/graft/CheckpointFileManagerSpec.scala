package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.graft.bridge

import graft.streaming.LocalCheckpointFileManager

/** The checkpoint file manager `Sessions.local` registers: the commit
  * contract Spark's logs and state stores rely on (atomic create,
  * no-overwrite, cancel), the `.crc` sidecars, and permissions equal to
  * those of Spark's default manager. */
class CheckpointFileManagerSpec extends SparkSpec {

  private def dir(): String = Files.createTempDirectory("graft_cfm").toString

  private def manager(d: String): CheckpointFileManager =
    CheckpointFileManager.create(new Path(d), bridge.newHadoopConf(spark))

  private def write(fm: CheckpointFileManager, p: Path, text: String,
                    overwrite: Boolean = false): Unit = {
    val out = fm.createAtomic(p, overwriteIfPossible = overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(d: String): Set[String] =
    Files.list(Paths.get(d)).iterator().asScala.map(_.getFileName.toString).toSet

  test("Sessions.local selects the manager, and it is local for file paths") {
    val d = dir()
    for (p <- Seq(d, s"file:$d")) {
      val fm = manager(p)
      assert(fm.isInstanceOf[LocalCheckpointFileManager] && fm.isLocal, p)
    }
  }

  test("createAtomic without overwrite refuses an existing file and keeps its bytes") {
    val d = dir()
    val fm = manager(d)
    val p = new Path(d, "1")
    write(fm, p, "first")
    intercept[FileAlreadyExistsException](write(fm, p, "second"))
    assert(read(fm, p) == "first")
  }

  test("cancel leaves neither the target nor a temp file") {
    val d = dir()
    val fm = manager(d)
    val out = fm.createAtomic(new Path(d, "1"), overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(names(d).isEmpty, s"left behind: ${names(d)}")
  }

  test("createAtomic with overwrite replaces the file") {
    val d = dir()
    val fm = manager(d)
    val p = new Path(d, "1")
    write(fm, p, "first")
    write(fm, p, "second", overwrite = true)
    assert(read(fm, p) == "second")
    assert(names(d) == Set("1", ".1.crc"))
  }

  test("a committed file has its .crc sidecar and a flipped byte fails the read") {
    val d = dir()
    val fm = manager(d)
    val p = new Path(d, "1")
    write(fm, p, "exactly-once offsets")
    assert(Files.exists(Paths.get(d, ".1.crc")))
    val f = Paths.get(d, "1")
    val bytes = Files.readAllBytes(f)
    bytes(3) = (bytes(3) ^ 0x01).toByte
    Files.write(f, bytes, StandardOpenOption.TRUNCATE_EXISTING)
    intercept[ChecksumException](read(fm, p))
  }

  test("file and directory permissions equal those of Spark's default manager") {
    val d = dir()
    val stock = new FileContextBasedCheckpointFileManager(new Path(d),
      bridge.newHadoopConf(spark))
    val ours = manager(d)
    write(stock, new Path(d, "a"), "x")
    write(ours, new Path(d, "b"), "x")
    stock.mkdirs(new Path(d, "da/sub"))
    ours.mkdirs(new Path(d, "db/sub"))
    def perms(name: String): String =
      java.nio.file.attribute.PosixFilePermissions.toString(
        Files.getPosixFilePermissions(Paths.get(d, name)))
    Seq("a" -> "b", ".a.crc" -> ".b.crc", "da" -> "db", "da/sub" -> "db/sub")
      .foreach { case (s, o) => assert(perms(s) == perms(o), s"$s vs $o") }
  }
}
