package graft.operators

/** Fuzzy header reconciliation (reference `Upload.py:137-181`,
  * `Compare.py:34-39,141-151`): match source columns to target headers by
  * normalized name, taking the intersection, with an optional manual
  * override map. Pure schema metadata — no row data involved.
  */
object SchemaReconciler {

  /** Upload-style normalization (reference `Upload.py:137-145`). */
  def normSpace(s: String): String = {
    val cleaned = s.replace(' ', ' ').replace('\r', ' ').replace('\n', ' ')
    cleaned.trim.toLowerCase
      .replaceAll("[\\s_]+", " ")
      .replaceAll("[^a-z0-9 ]", "")
      .trim
  }

  /** Compare-style snake_case normalization (reference `Compare.py:34-39`). */
  def normSnake(s: String): String =
    s.replaceAll("\\s+", " ").trim.toLowerCase
      .replaceAll("[^a-z0-9]+", "_")
      .replaceAll("^_+|_+$", "")

  /** Excel column letter -> 1-based ordinal (reference `Compare.py:50-53`). */
  def letterToOrdinal(letter: String): Int =
    letter.trim.toUpperCase.foldLeft(0)((acc, ch) => acc * 26 + (ch - 'A' + 1))

  /** 1-based ordinal -> Excel column letter. */
  def ordinalToLetter(n: Int): String = {
    @annotation.tailrec
    def go(x: Int, acc: String): String =
      if (x <= 0) acc else go((x - 1) / 26, (('A' + (x - 1) % 26)).toChar.toString + acc)
    go(n, "")
  }

  /** Map source column names to target header names via normalized-name
    * intersection (+ manual overrides, applied first — reference
    * `Upload.py:174-181`). Returns (sourceName -> targetName) in source
    * column order.
    */
  def matchColumns(sourceCols: Seq[String], targetHeaders: Seq[String],
                   overrides: Map[String, String] = Map.empty)
      : Seq[(String, String)] = {
    // toMap keeps the last duplicate — same as the reference's L->R dict
    // overwrite when two headers normalize identically (Upload.py:162-172)
    val targetByNorm = targetHeaders.map(h => normSpace(h) -> h).toMap
    sourceCols.flatMap { src =>
      overrides.get(src).orElse(targetByNorm.get(normSpace(src))).map(src -> _)
    }
  }
}
