package graft

/** The code lines of `src/main/scala` — every `.scala` line that is not
  * a comment line, as (file, 1-based line number, trimmed text) — for
  * the guards that keep a raw call inside the one module owning it. */
object SourceScan {
  def codeLines(): Seq[(java.io.File, Int, String)] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: $root")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    for {
      f <- files(root) if f.getName.endsWith(".scala")
      src = scala.io.Source.fromFile(f, "UTF-8")
      (line, n) <- try src.getLines().toList.zipWithIndex finally src.close()
      c = line.trim
      if !c.startsWith("//") && !c.startsWith("*") && !c.startsWith("/*")
    } yield (f, n + 1, c)
  }

  private val Member =
    """^  (?:(?:private|protected)(?:\[\w+\])? )?(?:override )?(?:lazy )?(?:def|val|object|class) (\w+).*""".r

  /** The name of the member of a top-level object or trait (declared at
    * two-space indent) whose body holds 1-based line `n` of `f`; "" for
    * a line above the first member. */
  def enclosingMember(f: java.io.File, n: Int): String = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    val lines = try src.getLines().take(n).toVector finally src.close()
    lines.reverseIterator.collectFirst { case Member(name) => name }.getOrElse("")
  }
}
