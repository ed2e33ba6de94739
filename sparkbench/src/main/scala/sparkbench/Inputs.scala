package sparkbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{LocalInputFile, LocalOutputFile}
import org.apache.parquet.schema.MessageType

/** Seeded input generator, independent of Spark so that generating inputs
  * issues no Spark jobs. Reads the base tables (one parquet file each) into
  * memory once; each `write` lays out one input directory in the form the
  * program's `graft.core.Tables` reads: `<dir>/<table>.parquet/` holding
  * part files.
  *
  * The seed decides row order only. Every base row is written unchanged,
  * with the base file's schema, into a fixed number of part files; a seeded
  * shuffle decides the order of the rows and so which part file each lands
  * in. Row content, row count and file count never depend on the seed, so a
  * pass does the same work under every seed while the layout differs.
  */
final class Inputs(baseDir: Path, tables: Seq[String]) {
  import Inputs._

  private final case class Table(name: String, schema: MessageType,
                                 meta: java.util.Map[String, String],
                                 rows: Vector[Group])

  private val base: Seq[Table] = tables.map { t =>
    val file = baseDir.resolve(s"$t.parquet")
    val footer = {
      val r = ParquetFileReader.open(new LocalInputFile(file))
      try r.getFooter.getFileMetaData finally r.close()
    }
    val reader = ParquetReader.builder(new GroupReadSupport(),
      new HPath(file.toUri)).build()
    val rows = try Iterator.continually(reader.read()).takeWhile(_ != null).toVector
      finally reader.close()
    Table(t, footer.getSchema, footer.getKeyValueMetaData, rows)
  }

  def rowCounts: Seq[(String, Int)] = base.map(t => t.name -> t.rows.size)

  /** Writes every table, its rows shuffled by `seed`, under `dir`. */
  def write(dir: Path, seed: Long): Path = {
    base.foreach { t =>
      val order = new scala.util.Random(seed * 31 + t.name.hashCode).shuffle(t.rows)
      val files = if (t.rows.size < SmallRows) 1 else NFiles
      val out = Files.createDirectories(dir.resolve(s"${t.name}.parquet"))
      order.grouped((order.size + files - 1) / files).zipWithIndex.foreach { case (part, i) =>
        val w = ExampleParquetWriter
          .builder(new LocalOutputFile(out.resolve(f"part-$i%05d.parquet")))
          .withType(t.schema)
          .withExtraMetaData(t.meta)
          .withCompressionCodec(CompressionCodecName.SNAPPY)
          .build()
        try part.foreach(w.write) finally w.close()
      }
    }
    dir
  }
}

object Inputs {
  /** Tables under this many rows stay one file; larger ones are split so a
    * scan is not a single unsplittable file. */
  private val SmallRows = 5000
  private val NFiles = 2

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(x => Files.deleteIfExists(x))
      finally s.close()
    }
}
