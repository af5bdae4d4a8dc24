package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Table-format metrics from a walk of a manifest-table root: one
  * `manifest/v<N>/` claim directory per version, data files under
  * `data/`, deletion vectors as `<data file>.dv<N>-<id>` siblings. */
object ManifestWalk {
  def metrics(root: Path): Seq[(String, Double, String)] = {
    def files(sub: String): Seq[Path] = {
      val d = root.resolve(sub)
      if (!Files.isDirectory(d)) Nil
      else {
        val walk = Files.walk(d)
        try walk.iterator().asScala
          .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc"))
          .toList
        finally walk.close()
      }
    }
    val meta = files("manifest")
    val versions = meta.map(p => root.resolve("manifest").relativize(p).getName(0).toString)
      .distinct.count(_.matches("v[0-9]+")).max(1)
    Seq(
      ("manifest.versions", versions.toDouble, "count"),
      ("manifest.files_per_version", meta.size.toDouble / versions, "count"),
      ("manifest.meta_bytes_per_version", meta.map(Files.size).sum.toDouble / versions, "bytes"),
      ("manifest.dv_files", files("data").count(_.getFileName.toString.contains(".dv")).toDouble,
        "count"))
  }
}
