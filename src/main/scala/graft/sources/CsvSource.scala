package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** General CSV table source with the reference's delimiter-sniffing
  * behavior (`/root/reference/src/pipeline.py:88-93`) but a distributed
  * read: only the first 4 KiB are touched on the driver to pick the
  * separator; the file itself is scanned by executors via
  * `spark.read.csv`, so this works for CSVs of any size (unlike the
  * driver-parsed [[CountryLut]], which is specialized to the tiny keyed
  * side input).
  */
object CsvSource {

  /** Sniff the delimiter from the head of the (possibly huge) file. */
  def sniff(spark: SparkSession, path: String): Char = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val head = scala.util.Using.resource(fs.open(p))(_.readNBytes(4096))
    var sample = new String(head, java.nio.charset.StandardCharsets.UTF_8)
    if (sample.nonEmpty && sample.charAt(0) == '\uFEFF') sample = sample.substring(1)
    CountryLut.sniffDelimiter(sample)
  }

  def read(spark: SparkSession, path: String, header: Boolean = true): DataFrame =
    spark.read
      .option("header", header.toString)
      .option("sep", sniff(spark, path).toString)
      .option("encoding", "UTF-8")
      .csv(path)
}
