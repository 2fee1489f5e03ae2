package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapreduce.lib.input.TextInputFormat

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}

import graft.model.Stmt

/** Splittable SQL-dump statement source.
  *
  * The reference reads each dump wholly into driver memory and regex-scans
  * it repeatedly (/root/reference/sync.py:549-573, 43-44) — an ~11×-input
  * RSS, single-core design. Here the dump is read as Hadoop text records
  * delimited by ";\n": the file splits into independent byte-range chunks
  * across executors, and each record's starting byte offset is a stable
  * global statement-order key (SURVEY.md §7.4 — never rely on
  * `monotonically_increasing_id` for cross-partition order).
  *
  * `;\n` is the mysqldump statement terminator. A `;\n` inside a string
  * literal would mis-split — the same class of limitation as the
  * reference's non-greedy `(.*?);` regexes (sync.py:55), which truncate at
  * ANY `;`, so this source accepts a strict superset of real dumps the
  * reference handles.
  */
object DumpSource {

  def statements(spark: SparkSession, path: String): Dataset[Stmt] = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("textinputformat.record.delimiter", ";\n")
    // local-FS blocks are large; cap split size so a single dump file
    // still fans out across all cores. 4 MB (not the HDFS-ish 128 MB)
    // because the per-byte work downstream is the record scan's
    // tokenizing and the rows it emits, not IO — a single-digit-MB dump
    // must still parse on >1 core, and a straggling oversized split
    // serializes the whole parse stage.
    conf.set("mapreduce.input.fileinputformat.split.maxsize", "4194304")
    val rdd = spark.sparkContext
      .newAPIHadoopFile(path, classOf[TextInputFormat],
        classOf[LongWritable], classOf[Text], conf)
      .map { case (off, text) => Stmt(off.get, text.toString) }
    spark.createDataset(rdd)(Encoders.product[Stmt])
  }
}
