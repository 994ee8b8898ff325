package perfbench

import java.nio.file.{Files, Paths}

import graft.util.Json

/** The operators the benchmark checks, and their pinned results (see
  * pin.py):
  *
  *   Pin                 prints the operator names, comma-separated
  *   Pin <verifyOutDir>  writes `<verifyOutDir>/pins.json`: row count and
  *                       digest of each result `graft.Verify` wrote there
  */
object Pin {
  val Names: Seq[String] = SparkOpsBench.Ops.map(_._1) :+ SparkOpsBench.Sync

  def main(argv: Array[String]): Unit = argv match {
    case Array() => println(Names.mkString(","))
    case Array(dir) =>
      val out = Paths.get(dir).toAbsolutePath
      val spark = Main.session(2, out.resolve("pin-work"))
      val pins = Names.map { n =>
        val df = spark.read.parquet(out.resolve(n).toString)
        val (count, digest) = Digest.of(df.schema.fieldNames.toSeq, df.collect().toSeq)
        System.err.println(s"[pin] $n rows=$count digest=$digest")
        s"""${Json.escape(n)}: {"rows": $count, "digest": "$digest"}"""
      }
      Files.writeString(out.resolve("pins.json"), pins.mkString("{\n  ", ",\n  ", "\n}\n"))
      spark.stop()
  }
}
