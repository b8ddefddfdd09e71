package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graftbench.Main._

/** Self-test of the benchmark itself (not of graft):
  *
  *   SelfTest --rundir DIR --data DIR
  *
  * Checks: one seed gives byte-identical granules; a truncated granule
  * makes its product a named failed operation; an unknown query name is a
  * named failed operation. (`run.py --selftest` adds the check that every
  * metric printed is declared in BENCHMARK.json.) */
object SelfTest {
  private def files(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator.asScala.toSeq.sortBy(_.getFileName.toString)
    finally s.close()
  }

  private def expect(ok: Boolean, what: String): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) throw new AssertionError(what)
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val runDir = Paths.get(kv("--rundir"))
    val data = Paths.get(kv("--data"))

    // same seed, same bytes
    val s = Granules.stream(7, Products.Hz)
    val a = Granules.write(s, 3600, runDir.resolve("a"))._1
    val b = Granules.write(Granules.stream(7, Products.Hz), 3600,
      runDir.resolve("b"))._1
    expect(a.size == 24 && files(runDir.resolve("a")).map(_.getFileName) ==
      files(runDir.resolve("b")).map(_.getFileName) &&
      a.zip(b).forall { case (x, y) =>
        java.util.Arrays.equals(Files.readAllBytes(Paths.get(x)),
          Files.readAllBytes(Paths.get(y)))
      }, "seed 7 written twice gives byte-identical granules")
    val c = Granules.write(Granules.stream(8, Products.Hz), 3600,
      runDir.resolve("c"))._1
    expect(!java.util.Arrays.equals(Files.readAllBytes(Paths.get(a.head)),
      Files.readAllBytes(Paths.get(c.head))), "another seed gives other bytes")

    // a truncated granule fails its product, by name
    val victim = Paths.get(a(5))
    val bytes = Files.readAllBytes(victim)
    Files.write(victim, java.util.Arrays.copyOf(bytes, bytes.length / 2))
    val out = new Outcome
    val dst = runDir.resolve("truncated.nc")
    out.op(s"product ${dst.getFileName}")(
      graft.Cli.main(Products.cliArgs(dst, a)))
    expect(out.attempted == 1 && out.failed.size == 1 &&
      out.failed.contains("product truncated.nc"),
      s"truncated granule is a named failed product: ${out.failed.mkString}")

    // an unknown query is a failed operation, by name
    val r = Registry.run(Args("registry", 1, 0, trace = false,
      Files.createDirectories(runDir.resolve("reg")), data, None),
      Seq(Registry.Member("no_such_query", 0, 1.0)))
    expect(r.failed.nonEmpty &&
      r.failed.keys.forall(_.contains("no_such_query")) &&
      r.failed.size == r.attempted,
      s"unknown query is a named failed operation " +
        s"(${r.failed.size} of ${r.attempted})")
    println("selftest passed")
    sys.exit(0)
  }
}
