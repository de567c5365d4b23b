package org.apache.spark.sql.graft

import org.apache.hadoop.mapreduce.{Job, JobContext}
import org.apache.hadoop.mapreduce.lib.input.{CombineFileInputFormat, FileInputFormat}
import org.apache.spark.SparkContext
import org.apache.spark.input.{PortableDataStream, StreamInputFormat}
import org.apache.spark.rdd.{BinaryFileRDD, RDD}
import scala.jdk.CollectionConverters._

/**
 * Whole files as streams, `(path, stream)` per file, with the splits
 * `wholeTextFiles` makes: total bytes / `minPartitions` per split, a
 * file never split. `SparkContext.binaryFiles` packs files into splits
 * of at least `spark.files.openCostInBytes` (4 MB) plus one core's
 * share of the padded total, so a directory of eight 3 MB files reads
 * in 2 tasks on 4 cores where `wholeTextFiles` used 4.
 */
object WholeFileStreams {
  def apply(sc: SparkContext, path: String, minPartitions: Int): RDD[(String, PortableDataStream)] = {
    val job = Job.getInstance(sc.hadoopConfiguration)
    FileInputFormat.setInputPaths(job, path)
    new BinaryFileRDD(sc, classOf[EvenSplitStreams], classOf[String], classOf[PortableDataStream],
      job.getConfiguration, minPartitions).setName(path)
  }
}

/** [[StreamInputFormat]] with `WholeTextFileInputFormat`'s split sizing. */
class EvenSplitStreams extends StreamInputFormat {
  override def setMinPartitions(sc: SparkContext, context: JobContext, minPartitions: Int): Unit = {
    val total = listStatus(context).asScala.filterNot(_.isDirectory).map(_.getLen).sum
    val maxSplitSize = math.ceil(total * 1.0 / math.max(minPartitions, 1)).toLong
    // small files: the per-node and per-rack minimums must not exceed it
    val conf = context.getConfiguration
    if (maxSplitSize < conf.getLong(CombineFileInputFormat.SPLIT_MINSIZE_PERNODE, 0L))
      setMinSplitSizeNode(maxSplitSize)
    if (maxSplitSize < conf.getLong(CombineFileInputFormat.SPLIT_MINSIZE_PERRACK, 0L))
      setMinSplitSizeRack(maxSplitSize)
    setMaxSplitSize(maxSplitSize)
  }
}
