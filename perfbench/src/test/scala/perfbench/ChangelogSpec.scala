package perfbench

import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class ChangelogSpec extends AnyFunSuite {
  private def landed(seed: Long): Array[Byte] = {
    val dir = Files.createTempDirectory("changelog-spec")
    val g = new Changelog(seed, 1000)
    Changelog.land(g.snapshotEvents() ++ g.next(5000), dir.toString, "wire")
    val bytes = Files.readAllBytes(dir.resolve("wire.json"))
    Files.delete(dir.resolve("wire.json"))
    Files.delete(dir)
    bytes
  }

  test("the same seed lands byte-identical wire files; another seed does not") {
    val a = landed(7L)
    assert(a.nonEmpty)
    assert(java.util.Arrays.equals(a, landed(7L)))
    assert(!java.util.Arrays.equals(a, landed(8L)))
  }

  test("the generator's replica equals a replay of its own events") {
    val g = new Changelog(3L, 500)
    val events = g.snapshotEvents() ++ g.next(20000) ++ g.next(3000)
    val json = new ObjectMapper()
    val replica = scala.collection.mutable.Map.empty[Long, (String, String, String)]
    var lastLsn = 0L
    var ops = Set.empty[String]
    events.foreach { v =>
      val e = json.readTree(v)
      val lsn = e.get("source").get("lsn").asLong
      assert(lsn > lastLsn, "lsn must strictly increase")
      lastLsn = lsn
      val op = e.get("op").asText
      ops += op
      if (op == "d") replica -= e.get("before").get("id").asLong
      else {
        val a = e.get("after")
        replica(a.get("id").asLong) = (a.get("first_name").asText,
          a.get("last_name").asText, a.get("email").asText)
      }
    }
    assert(ops == Set("r", "c", "u", "d"))
    assert(g.liveRows.map { case (id, f, l, m) => id -> (f, l, m) }.toMap == replica.toMap)
  }

  test("keys follow YCSB's Zipfian distribution (constant 0.99)") {
    val g = new Changelog(11L, 10000)
    val json = new ObjectMapper()
    val ids = g.next(20000).map { v =>
      val e = json.readTree(v)
      Option(e.get("after")).filterNot(_.isNull).getOrElse(e.get("before")).get("id").asLong
    }
    // over 10,000 keys the hottest 1% take 51.8% of the events and key 0
    // takes 9.8%, by the distribution's zeta sums
    val hot = ids.count(_ < 100).toDouble / ids.length
    assert(hot > 0.48 && hot < 0.56, s"hottest 1% took $hot")
    val top = ids.count(_ == 0).toDouble / ids.length
    assert(top > 0.085 && top < 0.11, s"key 0 took $top")
  }
}
