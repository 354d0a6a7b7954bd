package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

class TablesSpec extends AnyFunSuite {

  private def write(dir: Path, name: String, bytes: Int): Unit = {
    Files.createDirectories(dir.resolve(name).getParent)
    Files.write(dir.resolve(name), new Array[Byte](bytes))
  }

  test("fanOut sizes a table by its data files only: no _SUCCESS, .crc or _temporary") {
    val dir = Files.createTempDirectory("tables-spec")
    write(dir, "part-00000.parquet", 700)
    write(dir, "part-00001.parquet", 300)
    write(dir, "k=1/part-00002.parquet", 24)
    write(dir, "_SUCCESS", 100)
    write(dir, ".part-00000.parquet.crc", 16)
    write(dir, "k=1/.part-00002.parquet.crc", 12)
    write(dir, "_temporary/0/part-00003.parquet", 4000)
    assert(Tables.dataBytes(dir.toString) == 1024)
    assert(Tables.dataBytes(dir.resolve("part-00001.parquet").toString) == 300)
    assert(Tables.dataBytes(dir.resolve("missing").toString) == Long.MaxValue)
    Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
  }
}
