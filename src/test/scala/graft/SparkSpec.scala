package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session, lazy), built
  * by [[GraftSession]] so the suite plans under the settings the bench
  * and the oracle gate run with.
  */
object TestSpark {
  lazy val spark: SparkSession =
    GraftSession(extra = Map("spark.app.name" -> "graft-test"))
}

/** The checkpoint managers a restart spec runs under: the FileContext
  * one Spark picks by default on `file:` paths and the FileSystem one
  * [[graft.control.ControlPlane]] sets. Each run gets its own session
  * with the manager pinned, so the settings other suites leave on the
  * shared session cannot decide it.
  */
object CheckpointManagers {
  val all: Seq[Class[_ <: CheckpointFileManager]] = Seq(
    classOf[FileContextBasedCheckpointFileManager],
    classOf[FileSystemBasedCheckpointFileManager])

  def session(spark: SparkSession,
      manager: Class[_ <: CheckpointFileManager]): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.checkpointFileManagerClass",
      manager.getName)
    val probe = java.nio.file.Files.createTempDirectory("ckm_probe")
    val got = CheckpointFileManager.create(new Path(probe.toUri),
      s.sessionState.newHadoopConf()).getClass
    java.nio.file.Files.delete(probe)
    require(got == manager, s"session checkpoints through $got")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"
}
