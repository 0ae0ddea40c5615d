package graftbench

import java.nio.file.{Files, Path}

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser

/** Writes generated rows straight to parquet with the parquet-hadoop
 * writer: `files` files, rows dealt round-robin, one row group per file.
 * The stored layout is exactly the one a workload specifies, and no Spark
 * job runs while inputs are written. */
object Store {
  private val conf = new Configuration()

  def write[T](dir: Path, schema: String, files: Int, rows: IndexedSeq[T])(fill: (Group, T) => Unit): Unit = {
    val mt = MessageTypeParser.parseMessageType(schema)
    val groups = new SimpleGroupFactory(mt)
    Files.createDirectories(dir)
    (0 until files).foreach { f =>
      val out = HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(dir.resolve(f"part-$f%05d.parquet").toUri), conf)
      val w = ExampleParquetWriter.builder(out).withType(mt).withConf(conf)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .withRowGroupSize(1L << 30).build()
      try {
        var i = f
        while (i < rows.length) { val g = groups.newGroup(); fill(g, rows(i)); w.write(g); i += files }
      } finally w.close()
    }
  }

  def bin(b: Array[Byte]): Binary = Binary.fromConstantByteArray(b)

  def ring(g: Group, name: String, xs: Array[Double]): Unit = {
    val l = g.addGroup(name)
    xs.foreach(x => l.addGroup("list").append("element", x))
  }

  val Ring = "required group ring (LIST) { repeated group list { required double element; } }"
}
