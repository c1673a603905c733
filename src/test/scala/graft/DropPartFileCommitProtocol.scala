package graft

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol

/** Test commit protocol: commits a job normally (part files and
  * `_SUCCESS`), then deletes the largest part file when the job wrote a
  * span partition named `bucket=1` — a durable output that lost a file
  * after its writer reported success. Installed through
  * `spark.sql.sources.commitProtocolClass`. */
class DropPartFileCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {

  override def commitJob(jobContext: JobContext, taskCommits: Seq[TaskCommitMessage]): Unit = {
    super.commitJob(jobContext, taskCommits)
    val dir = new Path(path)
    if (dir.getName == "bucket=1" && dir.getParent.getName != "_errors") {
      val fs = dir.getFileSystem(jobContext.getConfiguration)
      val parts = fs.listStatus(dir).filter(_.getPath.getName.startsWith("part-"))
      fs.delete(parts.maxBy(_.getLen).getPath, false)
    }
  }
}
