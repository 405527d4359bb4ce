package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.meta.{PartitionField, SchemaVersion, Snapshot, SnapshotLog, TableMetadata}

/** The log codec against itself: for seeded random table metadata —
  * snapshots with and without delete counts, refs and tags, nested
  * schemas whose fields carry field ids, every partition transform, and
  * arbitrary Unicode in paths, names and property strings — decoding the
  * encoding gives back the same value, and a key the codec does not know
  * is ignored. */
class TableMetadataPropertySpec extends AnyFunSuite {
  import TableMetadataPropertySpec._

  /** Any code point but surrogates, with JSON's own syntax over-weighted. */
  private val charGen: Gen[String] = Gen.frequency(
    3 -> Gen.alphaNumChar.map(_.toString),
    2 -> Gen.oneOf("\"", "\\", "{", "}", "[", "]", ",", ":", "/", " ", "\n", "\t",
      "\u0000", "\u001f", "é", "中", " ", "😀"),
    1 -> Gen.oneOf(Gen.choose(0x80, 0xD7FF), Gen.choose(0xE000, 0x10FFFF))
      .map(cp => new String(Character.toChars(cp))))

  private val text: Gen[String] = Gen.choose(0, 12).flatMap(Gen.listOfN(_, charGen)).map(_.mkString)

  private val name: Gen[String] = Gen.choose(1, 8).flatMap(Gen.listOfN(_, charGen)).map(_.mkString)

  private val count: Gen[Option[Long]] = Gen.option(Gen.choose(0L, Long.MaxValue))

  private val snapshotGen: Gen[Snapshot] = for {
    id <- Gen.choose(1L, Long.MaxValue)
    ts <- Gen.choose(Long.MinValue, Long.MaxValue)
    op <- text
    manifests <- Gen.listOf(text)
    files <- Gen.choose(0L, Long.MaxValue)
    bytes <- Gen.choose(0L, Long.MaxValue)
    rows <- Gen.choose(Long.MinValue, Long.MaxValue)
    parent <- Gen.choose(-1L, Long.MaxValue)
    deletes <- Gen.listOf(text)
    eqDeletes <- Gen.listOf(text)
    deleteCount <- count
    eqDeleteCount <- count
  } yield Snapshot(id, ts, op, manifests, files, bytes, rows, parent, deletes,
    eqDeletes, deleteCount, eqDeleteCount)

  private val atomic: Gen[DataType] = Gen.oneOf(LongType, IntegerType, StringType,
    DoubleType, FloatType, BooleanType, DateType, TimestampType, TimestampNTZType,
    BinaryType, DecimalType(10, 2), DecimalType(38, 0))

  private def typeGen(depth: Int): Gen[DataType] =
    if (depth == 0) atomic
    else Gen.frequency(
      4 -> atomic,
      1 -> Gen.zip(typeGen(depth - 1), Gen.oneOf(true, false)).map { case (e, n) => ArrayType(e, n) },
      1 -> Gen.zip(atomic, typeGen(depth - 1), Gen.oneOf(true, false)).map {
        case (k, v, n) => MapType(k, v, n) },
      1 -> structGen(depth - 1))

  private def structGen(depth: Int): Gen[StructType] = for {
    n <- Gen.choose(1, 4)
    fields <- Gen.listOfN(n, for {
      fieldName <- name
      dt <- typeGen(depth)
      nullable <- Gen.oneOf(true, false)
      gid <- Gen.option(Gen.choose(0L, Long.MaxValue))
    } yield StructField(fieldName, dt, nullable,
      gid.fold(Metadata.empty)(g => new MetadataBuilder().putLong("gid", g).build())))
  } yield StructType(fields)

  private val schemaVersionGen: Gen[SchemaVersion] = for {
    version <- Gen.choose(1, Int.MaxValue)
    since <- Gen.choose(0L, Long.MaxValue)
    schema <- structGen(2)
  } yield SchemaVersion(version, since, schema)

  private val fieldGen: Gen[PartitionField] = for {
    column <- name
    f <- Gen.oneOf(
      Gen.const("identity" -> 0), Gen.const("days" -> 0), Gen.const("months" -> 0),
      Gen.const("years" -> 0), Gen.const("hours" -> 0),
      Gen.choose(1, 1024).map("bucket" -> _), Gen.choose(1, 64).map("truncate" -> _))
  } yield PartitionField(column, f._1, f._2)

  private val refsGen: Gen[Map[String, Long]] =
    Gen.mapOf(Gen.zip(name, Gen.choose(1L, Long.MaxValue)))

  private val metadataGen: Gen[TableMetadata] = for {
    snapshots <- Gen.choose(0, 5).flatMap(Gen.listOfN(_, snapshotGen))
    refs <- refsGen
    tags <- refsGen
    schemas <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, schemaVersionGen))
    spec <- Gen.choose(0, 7).flatMap(Gen.listOfN(_, fieldGen))
    properties <- Gen.mapOf(Gen.zip(name, text))
  } yield TableMetadata(snapshots, refs, tags, schemas, spec, properties)

  test("decode after encode gives the same metadata, unknown keys ignored (seeded)") {
    val json = new ObjectMapper()
    (0 until Cases).foreach { i =>
      val m = metadataGen.pureApply(Gen.Parameters.default, Seed(9500L + i))
      val encoded = SnapshotLog.encode(m)
      assert(SnapshotLog.decode(encoded) == m, s"seed ${9500 + i}: $encoded")
      // a key this reader does not know, at every level a writer may add one
      val root = json.readTree(encoded).asInstanceOf[ObjectNode]
      root.putObject("unknownSection").put("x", 1)
      Seq("snapshots", "schemas", "spec").flatMap(k => root.get(k).elements.asScala)
        .foreach(_.asInstanceOf[ObjectNode].putArray("unknownList").add("y"))
      assert(SnapshotLog.decode(json.writeValueAsString(root)) == m,
        s"seed ${9500 + i}: an unknown key changed the decoded metadata")
    }
  }
}

object TableMetadataPropertySpec {
  val Cases = 300
}
