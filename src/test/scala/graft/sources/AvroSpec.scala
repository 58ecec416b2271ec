package graft.sources

import graft.{Scratch, SparkSpec, Tables}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.sql.{Date, Timestamp}

/** The graft-avro DataSource V2 connector (SURVEY §2.7 avro row):
  * schema mapping, full-fidelity round trips, nulls, column pruning,
  * overwrite truncation, and per-file read parallelism. */
class AvroSpec extends SparkSpec {

  private def tmp(name: String) =
    Scratch.dir(name).toString + "/out"

  test("avro round-trips events exactly (timestamps µs, doubles, strings)") {
    val ev = Tables.events(spark, sf)
    val p = tmp("avro-ev")
    ev.write.format("graft-avro").mode("overwrite").save(p)
    val back = spark.read.format("graft-avro").load(p)
    assert(back.schema == ev.schema)
    assert(back.orderBy(col("event_id")).collect().toSeq ==
           ev.orderBy(col("event_id")).collect().toSeq)
  }

  test("avro round-trips the full type lattice incl. nulls") {
    val schema = StructType(Seq(
      StructField("i", IntegerType), StructField("l", LongType),
      StructField("f", FloatType), StructField("d", DoubleType),
      StructField("b", BooleanType), StructField("s", StringType),
      StructField("bin", BinaryType), StructField("dt", DateType),
      StructField("ts", TimestampType),
      StructField("dec", DecimalType(12, 2)),
      StructField("arr", ArrayType(LongType))))
    val rows = Seq(
      Row(1, 10L, 1.5f, 2.5, true, "alpha", Array[Byte](1, 2, 3),
        Date.valueOf("2024-03-01"), Timestamp.valueOf("2024-03-01 12:34:56.123456"),
        new java.math.BigDecimal("12345.67"), Seq(1L, 2L, 3L)),
      Row(2, null, null, null, false, null, null, null, null, null, null),
      Row(3, -7L, -0.25f, 1e9, null, "", Array.empty[Byte],
        Date.valueOf("1970-01-01"), Timestamp.valueOf("1970-01-01 00:00:00.000001"),
        new java.math.BigDecimal("-0.01"), Seq()))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val p = tmp("avro-lattice")
    df.write.format("graft-avro").mode("append").save(p)
    val back = spark.read.format("graft-avro").load(p)
    assert(back.schema == schema)
    def norm(r: Row) = r.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }
    assert(back.orderBy(col("i")).collect().toSeq.map(norm) ==
           df.orderBy(col("i")).collect().toSeq.map(norm))
  }

  test("column pruning reaches the avro scan") {
    val ev = Tables.events(spark, sf).select("event_id", "user_id", "value")
    val p = tmp("avro-prune")
    ev.write.format("graft-avro").mode("overwrite").save(p)
    val pruned = spark.read.format("graft-avro").load(p).select("user_id")
    val leaf = pruned.queryExecution.executedPlan.collectLeaves().head
    assert(leaf.schema.fieldNames.toSeq == Seq("user_id"),
      s"scan should read only user_id, got ${leaf.schema.fieldNames.mkString(",")}")
    assert(pruned.distinct().count() ==
           ev.select("user_id").distinct().count())
  }

  test("overwrite truncates prior files; append accumulates") {
    import spark.implicits._
    val p = tmp("avro-modes")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.format("graft-avro").mode("overwrite").save(p)
    Seq((3L, "c")).toDF("k", "v")
      .write.format("graft-avro").mode("append").save(p)
    assert(spark.read.format("graft-avro").load(p).count() == 3)
    Seq((9L, "z")).toDF("k", "v")
      .write.format("graft-avro").mode("overwrite").save(p)
    assert(spark.read.format("graft-avro").load(p).as[(Long, String)]
      .collect().toSeq == Seq((9L, "z")))
  }

  test("schema evolution: widened read schema nulls columns absent from old files") {
    import spark.implicits._
    val p = tmp("avro-evolve")
    // "old" file: two columns
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.format("graft-avro").mode("overwrite").save(p)
    // widened reader schema: new nullable column reads as null
    val widened = spark.read.format("graft-avro")
      .schema("k LONG, v STRING, added DOUBLE").load(p)
    assert(widened.orderBy("k").collect().map(r => (r.getLong(0), r.isNullAt(2)))
      .toSeq == Seq((1L, true), (2L, true)))
    // mixed directory: a "new" file with the added column alongside
    Seq((3L, "c", 1.5)).toDF("k", "v", "added")
      .write.format("graft-avro").mode("append").save(p)
    val mixed = spark.read.format("graft-avro")
      .schema("k LONG, v STRING, added DOUBLE").load(p)
      .orderBy("k").collect()
    assert(mixed.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(mixed.map(r => if (r.isNullAt(2)) None else Some(r.getDouble(2)))
      .toSeq == Seq(None, None, Some(1.5)))
  }

  test("inference over a mixed-generation directory unions the schemas") {
    import spark.implicits._
    val p = tmp("avro-infer-mixed")
    Seq((1L, "a")).toDF("k", "v")
      .write.format("graft-avro").mode("overwrite").save(p)
    Seq((2L, "b", 1.5)).toDF("k", "v", "added")
      .write.format("graft-avro").mode("append").save(p)
    // NO explicit schema: inference must see the column that exists
    // only in the newer generation (round-6 advice: first-file-only
    // inference silently dropped it)
    val inferred = spark.read.format("graft-avro").load(p)
    assert(inferred.schema.fieldNames.toSet == Set("k", "v", "added"))
    val rows = inferred.orderBy("k").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(rows.map(r => if (r.isNullAt(2)) None else Some(r.getDouble(2)))
      .toSeq == Seq(None, Some(1.5)))
  }

  test("inference fails loudly when a column changes type across generations") {
    import org.apache.avro.SchemaBuilder
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    // name-keyed merging would hand old files the NEW type's decoder
    // and die mid-scan with a raw ClassCastException — inference must
    // instead refuse up front, naming the column
    val dir = Scratch.dir("avro-typeconflict")
    def writeOne(name: String, vAsDouble: Boolean): Unit = {
      val sch =
        if (vAsDouble) SchemaBuilder.record("r").fields()
          .requiredLong("k").requiredDouble("v").endRecord()
        else SchemaBuilder.record("r").fields()
          .requiredLong("k").requiredString("v").endRecord()
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](sch))
      w.create(sch, dir.resolve(name).toFile)
      val rec = new GenericData.Record(sch)
      rec.put("k", 1L)
      rec.put("v", if (vAsDouble) java.lang.Double.valueOf(1.5) else "x")
      w.append(rec); w.close()
    }
    writeOne("gen-a-00000.avro", vAsDouble = false) // oldest: v STRING
    writeOne("gen-b-00000.avro", vAsDouble = true)  // newest: v DOUBLE
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft-avro").load(dir.toString).schema
    }
    assert(e.getMessage.contains("'v'") &&
      e.getMessage.contains("schema"), e.getMessage)
    // the documented escape hatch still reads the compatible column
    val explicit = spark.read.format("graft-avro")
      .schema("k LONG").load(dir.toString)
    assert(explicit.collect().map(_.getLong(0)).toSeq == Seq(1L, 1L))

    // three generations, MIDDLE one conflicting while the endpoints
    // agree — an oldest-vs-newest-only comparison sails past this and
    // the middle file dies mid-scan with a ClassCastException; the
    // per-generation fold must refuse up front
    writeOne("gen-c-00000.avro", vAsDouble = false) // newest: back to STRING
    val e3 = intercept[IllegalArgumentException] {
      spark.read.format("graft-avro").load(dir.toString).schema
    }
    assert(e3.getMessage.contains("'v'") &&
      e3.getMessage.contains("gen-b"), e3.getMessage)
  }

  test("staged leftovers from a crashed commit stay invisible and replay clean") {
    import graft.sources.avro.{AvroEpochCommit, AvroStreamingWrite}
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val dir = Scratch.dir("avro-staged").toString
    Seq((1L, "committed")).toDF("k", "v").write.format("graft-avro")
      .mode("overwrite").save(dir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new Path(dir))
      .filter(_.getPath.getName.endsWith(".avro")).map(_.getPath).head
    fs.rename(part, new Path(dir, "part-e00001-p00000.avro"))
    // a crashed prior attempt left a dot-prefixed staged file behind
    val leftover = new Path(dir, ".staged-e00001-p00000.avro")
    fs.copyFromLocalFile(new Path(dir, "part-e00001-p00000.avro"), leftover)
    // readers skip dot-files: only the committed row is visible
    assert(spark.read.format("graft-avro").load(dir).count() == 1L)
    // the epoch replays: the leftover is overwritten, the swap lands,
    // and no staged residue survives the commit
    val tmpSrc = new Path(dir, ".tmp-replay2.avro")
    fs.copyFromLocalFile(new Path(dir, "part-e00001-p00000.avro"), tmpSrc)
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))
    new AvroStreamingWrite(dir, schema)
      .commit(1L, Array(AvroEpochCommit(tmpSrc.toString, 1L, 0)))
    val names = fs.listStatus(new Path(dir)).map(_.getPath.getName)
    assert(names.count(_ == "part-e00001-p00000.avro") == 1)
    assert(!names.exists(_.startsWith(".staged")),
      s"staged residue after commit: ${names.mkString(",")}")
    assert(spark.read.format("graft-avro").load(dir).count() == 1L)
  }

  test("external local-timestamp-millis decodes to NTZ micros, not /1000") {
    import org.apache.avro.{LogicalTypes, SchemaBuilder}
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    // an EXTERNALLY-written file: long + local-timestamp-millis —
    // our own writer emits micros, so build the file with avro-core
    val millisType = LogicalTypes.localTimestampMillis()
      .addToSchema(org.apache.avro.Schema.create(org.apache.avro.Schema.Type.LONG))
    val avroSchema = SchemaBuilder.record("r").fields()
      .requiredLong("k").name("ts").`type`(millisType).noDefault()
      .endRecord()
    val dir = Scratch.dir("avro-ntzms")
    val f = dir.resolve("ext-00000.avro").toFile
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](avroSchema))
    w.create(avroSchema, f)
    val rec = new GenericData.Record(avroSchema)
    rec.put("k", 1L)
    rec.put("ts", 1700000000123L) // millis
    w.append(rec); w.close()
    val back = spark.read.format("graft-avro").load(dir.toString)
    assert(back.schema("ts").dataType == TimestampNTZType)
    val got = back.head().getAs[java.time.LocalDateTime]("ts")
    val want = java.time.LocalDateTime.ofEpochSecond(
      1700000000L, 123000000, java.time.ZoneOffset.UTC)
    assert(got == want, s"millis must scale to micros: $got vs $want")
  }

  test("epoch re-commit clears stale higher-numbered parts of the epoch") {
    import graft.sources.avro.{AvroEpochCommit, AvroStreamingWrite}
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val dir = Scratch.dir("avro-epoch").toString
    // a prior attempt of epoch 1 committed TWO partitions
    Seq((1L, "stale")).toDF("k", "v").write.format("graft-avro")
      .mode("overwrite").save(dir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new Path(dir))
      .filter(_.getPath.getName.endsWith(".avro")).map(_.getPath)
    fs.rename(parts.head, new Path(dir, "part-e00001-p00000.avro"))
    val stale = new Path(dir, "part-e00001-p00001.avro")
    fs.copyFromLocalFile(new Path(dir, "part-e00001-p00000.avro"), stale)
    // the replay runs with ONE partition: new temp file -> p00000
    val tmpSrc = new Path(dir, ".tmp-replay.avro")
    fs.copyFromLocalFile(new Path(dir, "part-e00001-p00000.avro"), tmpSrc)
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))
    new AvroStreamingWrite(dir, schema)
      .commit(1L, Array(AvroEpochCommit(tmpSrc.toString, 1L, 0)))
    val names = fs.listStatus(new Path(dir))
      .map(_.getPath.getName).filter(_.startsWith("part-e00001")).sorted
    assert(names.toSeq == Seq("part-e00001-p00000.avro"),
      s"stale epoch parts must be cleared, got ${names.mkString(",")}")
  }

  test("large container files split on sync markers into N>1 partitions") {
    val ev = Tables.events(spark, sf)
    val p = tmp("avro-split")
    // ONE container file holding the whole table
    ev.coalesce(1).write.format("graft-avro").mode("overwrite").save(p)
    val whole = spark.read.format("graft-avro").load(p)
    assert(whole.rdd.getNumPartitions == 1)
    // a split size far below the file length must fan out…
    val split = spark.read.format("graft-avro")
      .option("splitSize", 16 * 1024).load(p)
    assert(split.rdd.getNumPartitions > 1,
      s"one big file must span multiple partitions, got ${split.rdd.getNumPartitions}")
    // …and every block lands in exactly one range: identical content
    assert(split.orderBy(col("event_id")).collect().toSeq ==
           ev.orderBy(col("event_id")).collect().toSeq)
    assert(split.count() == ev.count())
  }

  test("micro-batch stream read consumes files in name order, one per trigger") {
    import spark.implicits._
    val dir = tmp("avro-stream")
    // three container files with increasing names, written up front
    (0 until 3).foreach { i =>
      val stage = tmp(s"avro-stage$i")
      Seq((i.toLong, s"file$i")).toDF("k", "v")
        .coalesce(1).write.format("graft-avro").mode("overwrite").save(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".avro")).head
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(dir, f"chunk_$i%02d.avro"))
    }
    val ck = tmp("avro-ck")
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    val q = spark.readStream.format("graft-avro")
      .schema("k LONG, v STRING")
      .option("maxFilesPerTrigger", "1")
      .load(dir)
      .writeStream
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        seen.synchronized { seen += ((id, df.select("k").as[Long].collect().toSeq)) }
        ()
      }.start()
    q.awaitTermination()
    // one file per micro-batch, in lexicographic order, no dup/loss
    assert(seen.sortBy(_._1).map(_._2).toSeq == Seq(Seq(0L), Seq(1L), Seq(2L)))
  }

  test("streaming sink commits per-epoch files; read-back is exactly the input") {
    import spark.implicits._
    val src = tmp("avro-ssrc")
    (0 until 3).foreach { i =>
      val stage = tmp(s"avro-sstage$i")
      Seq((i.toLong * 10, s"v$i"), (i.toLong * 10 + 1, s"w$i")).toDF("k", "v")
        .coalesce(1).write.format("graft-avro").mode("overwrite").save(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".avro")).head
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(src, f"chunk_$i%02d.avro"))
    }
    val (out, ck) = (tmp("avro-sout"), tmp("avro-sck"))
    val q = spark.readStream.format("graft-avro").schema("k LONG, v STRING")
      .option("maxFilesPerTrigger", "1").load(src)
      .writeStream.format("graft-avro")
      .option("path", out).option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val files = new java.io.File(out).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).sorted
    assert(files.forall(_.matches("part-e\\d{5}-p\\d{5}\\.avro")), files.mkString(","))
    assert(files.length == 3) // one epoch per source file, one partition each
    val back = spark.read.format("graft-avro").load(out)
      .as[(Long, String)].collect().toSet
    assert(back == (0 until 3).flatMap(i =>
      Seq((i.toLong * 10, s"v$i"), (i.toLong * 10 + 1, s"w$i"))).toSet)
  }

  test("write emits one file per task; read plans one partition per file") {
    import spark.implicits._
    val p = tmp("avro-par")
    spark.range(0, 1000).repartition(4).map(i => (i, s"row$i"))
      .toDF("k", "v").write.format("graft-avro").mode("overwrite").save(p)
    val back = spark.read.format("graft-avro").load(p)
    assert(back.rdd.getNumPartitions == 4)
    assert(back.count() == 1000)
    // no temp dirs or partial files left behind (hidden .crc sidecars
    // are Hadoop LocalFileSystem checksums, not ours)
    val dir = new java.io.File(p)
    val visible = dir.listFiles().filterNot(_.getName.startsWith("."))
    assert(visible.forall(f => f.getName.endsWith(".avro")) && visible.length == 4,
      dir.listFiles().map(_.getName).mkString(","))
  }
}
