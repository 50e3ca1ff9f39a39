package graft

/** Raw-XML introspection helpers for xlsx assertions: resolve a cell's
  * style ref through cellXfs -> fills to its ARGB so tests pin colors,
  * not layout-dependent xf indices. */
object XlsxTestUtil {

  /** The `s` style index of a cell element in raw sheet XML, if any. */
  def cellXf(sheetXml: String, ref: String): Option[Int] =
    ("<c r=\"" + ref + "\"[^>]*?\\bs=\"(\\d+)\"").r
      .findFirstMatchIn(sheetXml).map(_.group(1).toInt)

  /** Resolve an xf index through cellXfs -> fills to its solid-fill
    * ARGB, if the xf has one. */
  def fillOf(stylesXml: String, xfIdx: Option[Int]): Option[String] =
    xfIdx.flatMap { i =>
      val cx = stylesXml.substring(stylesXml.indexOf("<cellXfs"),
        stylesXml.indexOf("</cellXfs>"))
      val xfs = """(?s)<xf\b[^>]*?(?:/>|>.*?</xf>)""".r.findAllIn(cx).toVector
      val fillId = """fillId="(\d+)"""".r.findFirstMatchIn(xfs(i))
        .map(_.group(1).toInt).getOrElse(0)
      val fr = stylesXml.substring(stylesXml.indexOf("<fills"),
        stylesXml.indexOf("</fills>"))
      val fills = """(?s)<fill>.*?</fill>""".r.findAllIn(fr).toVector
      """rgb="([0-9A-Fa-f]+)"""".r.findFirstMatchIn(fills(fillId)).map(_.group(1))
    }

  /** Read one zip part of a workbook as UTF-8 text. */
  def zipPart(path: String, name: String): String = {
    val zf = new java.util.zip.ZipFile(path)
    try {
      val in = zf.getInputStream(zf.getEntry(name))
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    } finally zf.close()
  }

  /** Each part of a workbook with its bytes as stored (compressed). */
  def rawParts(path: String): Map[String, Seq[Byte]] = {
    val zf = org.apache.commons.compress.archivers.zip.ZipFile.builder()
      .setFile(path).get()
    try {
      val entries = zf.getEntries
      Iterator.continually(entries).takeWhile(_.hasMoreElements)
        .map(_.nextElement()).map { e =>
          val in = zf.getRawInputStream(e)
          try e.getName -> in.readAllBytes().toSeq finally in.close()
        }.toMap
    } finally zf.close()
  }
}
