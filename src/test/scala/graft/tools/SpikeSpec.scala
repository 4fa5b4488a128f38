package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** The scale-gate registry, without a Spark session: `scale_gate.sh` runs
  * exactly what `Spike --list` prints. */
class SpikeSpec extends AnyFunSuite {
  private val noSession = () => fail("a Spark session was started")

  test("leg names are unique") {
    val names = Spike.legs.map(_.name)
    assert(names.distinct == names)
  }

  test("--list prints one parsable name/driverMem/args line per leg, in order") {
    val buf = new java.io.ByteArrayOutputStream
    Console.withOut(buf)(Spike.run(List("--list"), noSession))
    val lines = buf.toString("UTF-8").linesIterator.toSeq
    val Line = """([a-z0-9-]+) (-|[0-9]+g)((?: [0-9]+)*)""".r
    val parsed = lines.map {
      case Line(name, mem, args) => (name, mem, args.trim.split(" ").filter(_.nonEmpty).toSeq)
      case other => fail(s"unparsable --list line: '$other'")
    }
    assert(parsed == Spike.legs.map(l => (l.name, l.driverMem, l.defaultArgs)))
  }

  test("an unknown leg fails fast with the known names and starts no session") {
    val e = intercept[IllegalArgumentException](Spike.run(List("no-such-leg", "5"), noSession))
    assert(e.getMessage.contains("no-such-leg"))
    Spike.legs.foreach(l => assert(e.getMessage.contains(l.name)))
  }
}
