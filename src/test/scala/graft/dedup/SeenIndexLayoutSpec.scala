package graft.dedup

import graft.SparkSpec
import org.apache.hadoop.fs.{FileStatus, Path}

/** Pins the ON-DISK layout every [[SeenIndex]] writer produces: for
  * each lifecycle in [[SeenIndexLayoutCases]] the whole directory tree
  * under the case root (index, output, ledger and signature-cache
  * siblings; the stream checkpoint excluded) is rendered and compared
  * with `seenindex-layout.txt`. Per directory the rendering lists
  *
  *   - the non-parquet files (ledger markers, sync markers, `_SUCCESS`)
  *     with 32-hex digests — batch keys and index fingerprints, which
  *     depend on temp paths and write UUIDs — shown as `<md5>`;
  *   - the distinct parquet schemas AS WRITTEN (the file footer's
  *     message type, nullability included — no forced read schema, so
  *     a writer that adds a null `epoch` or `admitted` column shows);
  *   - every row of every parquet file, each read with its own footer
  *     schema, sorted.
  *
  * Part-file names and counts are not part of the layout (they carry
  * write UUIDs and follow the partitioning). On a mismatch the actual
  * rendering of every case run so far is written to
  * `target/seenindex-layout.actual.txt`.
  */
class SeenIndexLayoutSpec extends SparkSpec {

  private val goldenName = "/graft/dedup/seenindex-layout.txt"
  private val actualFile = new java.io.File("target/seenindex-layout.actual.txt")
  actualFile.delete()

  private lazy val golden: Map[String, String] = {
    val src = scala.io.Source.fromInputStream(getClass.getResourceAsStream(goldenName), "UTF-8")
    try src.getLines().foldLeft(Vector.empty[(String, Vector[String])]) {
      case (acc, l) if l.startsWith("== ") => acc :+ (l.drop(3) -> Vector.empty)
      case (acc, l) if acc.nonEmpty => acc.init :+ (acc.last._1 -> (acc.last._2 :+ l))
      case (acc, _) => acc
    }.map { case (k, ls) => k -> ls.mkString("\n") }.toMap
    finally src.close()
  }

  private val Digest = "[0-9a-f]{32}".r

  private def cell(v: Any): String = v match {
    case null => "null"
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }

  private def render(root: String): String = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val conf = spark.sparkContext.hadoopConfiguration
    val base = fs.getFileStatus(rootPath).getPath.toString
    def walk(dir: FileStatus): Seq[String] = {
      val kids = fs.listStatus(dir.getPath).filterNot(_.getPath.getName.startsWith(".")).toSeq
      val rel = dir.getPath.toString.stripPrefix(base).stripPrefix("/")
      val (parquet, other) = kids.filter(_.isFile).partition(_.getPath.getName.endsWith(".parquet"))
      val schemas = parquet.map { f =>
        org.apache.parquet.hadoop.ParquetFileReader
          .readFooter(conf, f.getPath, org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
          .getFileMetaData.getSchema.toString.split("\\s+").mkString(" ").trim
      }.distinct.sorted
      val rows = parquet.flatMap { f =>
        spark.read.parquet(f.getPath.toString).collect().map(_.toSeq.map(cell).mkString("(", ", ", ")"))
      }.sorted
      val lines = Seq(s"dir ${if (rel.isEmpty) "." else rel}") ++
        other.map(f => s"  file ${Digest.replaceAllIn(f.getPath.getName, "<md5>")}").sorted ++
        schemas.map(s => s"  schema $s") ++ rows.map(r => s"  row $r")
      lines ++ kids.filter(k => k.isDirectory && !(rel.isEmpty && k.getPath.getName == "ckpt"))
        .sortBy(_.getPath.getName).flatMap(walk)
    }
    walk(fs.getFileStatus(rootPath)).mkString("\n")
  }

  SeenIndexLayoutCases.cases.foreach { case (name, run) =>
    test(s"on-disk layout: $name") {
      val root = java.nio.file.Files.createTempDirectory("seen_layout_").toString
      run(spark, root)
      val got = render(root)
      actualFile.getParentFile.mkdirs()
      val w = new java.io.FileWriter(actualFile, true)
      try w.write(s"== $name\n$got\n") finally w.close()
      assert(golden.get(name).contains(got),
        s"layout of '$name' differs from $goldenName (actual rendering in $actualFile):\n$got")
    }
  }
}
