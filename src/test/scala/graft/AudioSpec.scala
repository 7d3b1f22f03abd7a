package graft

import graft.operators.AudioOps
import graft.tables.Audio

class AudioSpec extends SparkSuite {

  import spark.implicits._

  test("WAV encode/decode round-trips PCM16 exactly through the JDK codec") {
    val s = Array[Short](0, 100, -100, 32767, -32768, 1, -1, 2000, -2000)
    val (rate, back) = Audio.decodeWav(Audio.encodeWav(s, 8000))
    assert(rate == 8000 && back.toSeq == s.toSeq)
  }

  test("generator rows decode to the formula samples") {
    val r = Audio.row(7L)
    val (rate, s) = Audio.decodeWav(r.bytes)
    assert(rate == Audio.Rate && s.length == r.n_samples)
    assert(s.toSeq == Audio.samples(7L).toSeq)
    assert(s.forall(v => v >= -2000 && v <= 2000))
  }

  test("features match a direct computation") {
    val rows = Seq(3L, 4L).map(Audio.row)
    val df = rows.map(r => (r.audio_id, r.bytes)).toDF("audio_id", "bytes")
    val got = AudioOps.features(spark, df).collect().map(f => f.audio_id -> f).toMap
    rows.foreach { r =>
      val s = Audio.samples(r.audio_id.stripPrefix("aud").toLong)
      val zc = (1 until s.length).count(k => (s(k - 1) < 0) != (s(k) < 0))
      val energy = s.map(v => v.toLong * v).sum
      val f = got(r.audio_id)
      assert(f.n_samples == s.length && f.zero_crossings == zc &&
        f.peak == s.map(v => math.abs(v.toInt)).max && f.energy == energy &&
        f.duration_ms == s.length.toLong * 1000 / 8000)
    }
  }

  test("middle segment round-trips the codec with exact energy") {
    val r = Audio.row(11L)
    val out = AudioOps.middleSegment(spark, Seq((r.audio_id, r.bytes)).toDF("audio_id", "bytes"))
      .as[(String, Long, Long, Long, Int)].collect().head
    val s = Audio.samples(11L)
    val from = s.length / 4
    val seg = s.slice(from, from + s.length / 2)
    assert(out._2 == from && out._3 == seg.length)
    assert(out._4 == seg.map(v => v.toLong * v).sum)
  }

  test("feature plan reads only (audio_id, bytes); no exchange carries bytes") {
    val tag = "audiotest"
    val path = Audio.ensureParquet(spark, "/root/repo/data", tag, 50)
    val df = spark.read.parquet(path)
    val feats = AudioOps.features(spark, df).toDF()
      .groupBy().sum("energy")
    val plan = feats.queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("audio_id") && readSchema.contains("bytes"))
    assert(!readSchema.contains("caption"), readSchema)
    val exch = exchangeOutputs(feats)
    assert(exch.forall(!_.contains("bytes")), exch.toString)
  }
}
