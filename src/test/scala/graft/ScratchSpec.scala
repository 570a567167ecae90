package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The scratch-file seam: where its directories live, and that a JVM
  * leaves none of them behind. No Spark session. */
class ScratchSpec extends AnyFunSuite {

  test("dir is stable, fresh is distinct per call, both under the root") {
    val d = Scratch.dir("spec-dir")
    val a = Scratch.dir("spec-dir", "/corpus/a")
    val b = Scratch.dir("spec-dir", "/corpus/b")
    val f = Seq.fill(3)(Scratch.fresh("spec-dir"))
    assert(Scratch.dir("spec-dir") == d && Scratch.dir("spec-dir", "/corpus/a") == a)
    assert(Set(d, a, b).size == 3, "two corpora must not share a dir")
    assert(f.distinct.size == 3 && !f.contains(d), "fresh must be new per call")
    for (p <- Seq(d, a, b) ++ f) {
      assert(Paths.get(p).getParent == Scratch.root, s"$p is not under the root")
      assert(Files.isDirectory(Paths.get(p)))
    }
  }

  test("a JVM's exit hook deletes every scratch entry it made") {
    val tmp = Scratch.fresh("exit-spec")
    val java = Paths.get(System.getProperty("java.home"), "bin", "java")
    val child = new ProcessBuilder(java.toString,
        "-cp", System.getProperty("java.class.path"),
        s"-Djava.io.tmpdir=$tmp", "graft.ScratchExitProbe")
      .redirectErrorStream(true).start()
    val log = new String(child.getInputStream.readAllBytes(), "UTF-8")
    assert(child.waitFor() == 0, log)
    assert(log.contains(s"made under $tmp"), log) // it really staged there
    val left = Files.list(Paths.get(tmp))
    try assert(left.count() == 0, s"the child left entries in $tmp")
    finally left.close()
  }
}

/** Child-JVM body of ScratchSpec's exit test: makes one scratch entry of
  * each kind, writes a file into each, and exits normally. */
object ScratchExitProbe {
  def main(args: Array[String]): Unit = {
    val made = Seq(Scratch.dir("probe"), Scratch.dir("probe", "/corpus"),
      Scratch.fresh("probe"))
    made.foreach(d => Files.writeString(Paths.get(d, "f.txt"), "x"))
    val tmp = System.getProperty("java.io.tmpdir")
    require(made.forall(_.startsWith(tmp)), made)
    println(s"made under $tmp: ${made.mkString(" ")}")
  }
}
