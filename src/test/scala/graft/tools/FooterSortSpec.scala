package graft.tools

import java.io.IOException
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** A file whose parquet tail is corrupt must fail every footer entry
  * point with an `IOException` that names the file, before anything
  * is written to it.
  */
class FooterSortSpec extends AnyFunSuite {

  /** `PAR1`, 100 zero bytes, a 4-byte little-endian length field, then
    * the tail magic: 112 bytes.
    */
  private def tailFile(lengthField: Array[Byte], magic: String): java.io.File = {
    val dir = graft.TempDirs.create("footer-sort-spec").toFile
    val f = new java.io.File(dir, "x.parquet")
    Files.write(f.toPath,
      "PAR1".getBytes("US-ASCII") ++ new Array[Byte](100) ++ lengthField ++
        magic.getBytes("US-ASCII"))
    f
  }

  private val cases = Seq(
    "negative footer length" -> tailFile(Array(0xff, 0xff, 0xff, 0xff).map(_.toByte), "PAR1"),
    "footer length past the file" -> tailFile(Array[Byte](0, 0x10, 0, 0), "PAR1"),
    "bad tail magic" -> tailFile(Array[Byte](50, 0, 0, 0), "PARX"))

  test("a corrupt parquet tail raises an IOException naming the file") {
    cases.foreach { case (what, f) =>
      val before = Files.readAllBytes(f.toPath)
      val calls = Seq[(String, () => Any)](
        "stamp" -> (() => FooterSort.stamp(f.getParent, Seq("script"), Seq("height"))),
        "sortingColumnsOf" -> (() => FooterSort.sortingColumnsOf(f)),
        "convertedTypesOf" -> (() => FooterSort.convertedTypesOf(f)))
      calls.foreach { case (name, call) =>
        val e = intercept[IOException](call())
        assert(e.getMessage.contains(f.getName), s"$what / $name: ${e.getMessage}")
      }
      assert(java.util.Arrays.equals(Files.readAllBytes(f.toPath), before),
        s"$what: a failed stamp changed the file")
    }
  }
}
