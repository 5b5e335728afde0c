package graft.sources

import java.io.File
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Single-shard JSON-Lines sink with Beam's shard naming
  * (`{prefix}-00000-of-00001.jsonl`, `/root/reference/src/pipeline.py:292-296`).
  *
  * Rows are serialized with `to_json` over the full row struct with
  * `ignoreNullFields=false`, matching `json.dumps(..., ensure_ascii=False)`
  * (the reference's `src/pipeline.py:200`): raw UTF-8, nulls kept.
  *
  * `num_shards=1` fixes the output layout, not the parallelism: like
  * Beam's file sink, which writes temporary shards in parallel and renames
  * them in a finalize step, every input partition is serialized and
  * written by its own task into a hidden scratch dir under `outputDir`.
  * The driver then joins those part files in ascending partition index
  * (the order a single-task collection of the partitions would walk, so
  * the bytes are the same) and publishes the shard with one atomic rename.
  */
object JsonlSink {

  /** Render one value exactly as Python `json.dumps(v, ensure_ascii=False)`
    * would (`/root/reference/src/pipeline.py:200`): `", "` / `": "`
    * separators (the dumps default without `indent`), raw UTF-8 (only
    * `"`. `\` and control chars escaped, control chars as the named
    * escapes then `\u00XX`), keys in schema field order (= Python dict
    * insertion order). Opt-in byte-exact mode for the golden-parity
    * test; the default `to_json` path stays the production serializer
    * (codegen'd, no row-by-row JVM string building).
    *
    * Floats: the golden corpus carries none at top level (seconds
    * watched is integral); Python float repr (shortest round-trip,
    * `1e-07` style exponents) is NOT reproduced here — integral doubles
    * render `x.0` like Python, which covers every value the reference
    * emits.
    */
  private[graft] def pythonJson(value: Any, dt: DataType): String = (value, dt) match {
    case (null, _) => "null"
    case (b: Boolean, _) => if (b) "true" else "false"
    case (s: String, _) => pythonQuote(s)
    case (r: Row, st: StructType) =>
      st.fields.zipWithIndex.map { case (f, i) =>
        s"${pythonQuote(f.name)}: ${pythonJson(r.get(i), f.dataType)}"
      }.mkString("{", ", ", "}")
    case (seq: scala.collection.Seq[_], ArrayType(et, _)) =>
      seq.map(pythonJson(_, et)).mkString("[", ", ", "]")
    case (m: scala.collection.Map[_, _], MapType(_, vt, _)) =>
      m.map { case (k, v) => s"${pythonQuote(String.valueOf(k))}: ${pythonJson(v, vt)}" }
        .mkString("{", ", ", "}")
    case (d: Double, _) if d.isWhole && !d.isInfinite => s"${d.toLong}.0"
    case (f: Float, _) if f.isWhole && !f.isInfinite => s"${f.toLong}.0"
    case (v, _) => String.valueOf(v)
  }

  private def pythonQuote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\b' => sb.append("\\b")
      case '\f' => sb.append("\\f")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** Spark's text output file name: `part-<partition>-<job>-c<file>.txt`. */
  private val PartFile = """part-(\d+)-.*-c(\d+)\.txt""".r

  /** The part files under `dir`, in partition order (numeric, so
    * `part-100000` follows `part-99999`). Fails on a part file it cannot
    * place rather than leave it out of the shard.
    */
  private[graft] def partsInOrder(dir: Path): Seq[Path] =
    scala.util.Using.resource(Files.list(dir))(_.iterator.asScala.toList)
      .filter(_.getFileName.toString.startsWith("part-")).map { p =>
        p.getFileName.toString match {
          case PartFile(partition, file) => ((partition.toLong, file.toLong), p)
          case name => throw new IllegalStateException(s"unexpected part file $name in $dir")
        }
      }.sortBy(_._1).map(_._2)

  /** Write `df` as `{prefix}-00000-of-00001.jsonl` in `outputDir` and
    * return its path. Empty input gives a 0-byte shard. A failed write
    * leaves no shard (an existing one stays as it was) and no scratch dir.
    *
    * @param pythonStyle reproduce Python `json.dumps` byte layout
    *   (golden-parity mode) instead of Spark's compact `to_json`.
    */
  def write(df: DataFrame, outputDir: String, prefix: String,
            pythonStyle: Boolean = false): String = {
    val serialized =
      if (pythonStyle) {
        val schema = df.schema
        df.map(r => pythonJson(r, schema))(Encoders.STRING).toDF("value")
      } else df.select(
        to_json(struct(df.columns.map(c => col(s"`$c`")): _*),
          Map("ignoreNullFields" -> "false")).as("value"))
    Files.createDirectories(Paths.get(outputDir))
    val dest = Paths.get(outputDir, s"$prefix-00000-of-00001.jsonl")
    // hidden, so Spark readers of outputDir skip it; same file system as
    // dest, so the publish below is a rename
    val scratch = new File(outputDir, Scratch.uniqueName(s".$prefix-parts"))
    Scratch.using(scratch) {
      serialized.write.text(scratch.toString)
      val staged = scratch.toPath.resolve(dest.getFileName)
      scala.util.Using.resource(FileChannel.open(staged,
          StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)) { out =>
        partsInOrder(scratch.toPath).foreach { part =>
          scala.util.Using.resource(FileChannel.open(part, StandardOpenOption.READ)) { in =>
            val size = in.size
            var pos = 0L
            while (pos < size) pos += in.transferTo(pos, size - pos, out)
          }
        }
      }
      Files.move(staged, dest,
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
    dest.toString
  }
}
