package graft.storage

/** Hive-layout path helpers shared by every component that parses
  * `col=value` partition segments (tiered reads, sidecar pruning,
  * Iceberg export, metadata tables). One implementation — a partition
  * value containing an escaped delimiter must decode identically
  * everywhere, or file pruning and export would disagree about which
  * partition a file belongs to.
  */
object PartitionPaths {

  /** Strip trailing `col=value` segments (for declared partition
    * columns only) — the partition-discovery base of a file or a kept
    * partition-subdir reference.
    */
  def base(path: String, partitionBy: Seq[String]): String = {
    var b = path.stripSuffix("/")
    def lastSeg = b.substring(b.lastIndexOf('/') + 1)
    while (partitionBy.exists(c => lastSeg.startsWith(c + "=")))
      b = b.substring(0, b.lastIndexOf('/'))
    b
  }

  /** The raw `col=value` segments (declared partition columns only)
    * between `file`'s partition-discovery base and its name, outermost
    * first.
    */
  def segments(file: String, partitionBy: Seq[String]): Seq[String] = {
    val dir = file.substring(0, file.lastIndexOf('/') max 0)
    val b = base(dir, partitionBy)
    if (b.length >= dir.length) Nil else dir.substring(b.length + 1).split('/').toSeq
  }

  /** Hive escapes special path chars as %XX; undo that (hex pairs
    * only — malformed sequences stay literal).
    */
  def unescape(s: String): String = {
    if (!s.contains('%')) return s
    val b = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          Character.digit(s.charAt(i + 1), 16) >= 0 &&
          Character.digit(s.charAt(i + 2), 16) >= 0) {
        b.append(((Character.digit(s.charAt(i + 1), 16) << 4) +
          Character.digit(s.charAt(i + 2), 16)).toChar)
        i += 3
      } else { b.append(c); i += 1 }
    }
    b.toString
  }
}
