package graft.multimodal

import java.nio.charset.StandardCharsets.UTF_8

import graft.SparkSpec
import graft.operators.MultimodalQueries
import graft.sources.TarSource
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Output pins for every public media stager and decode pass. Each
  * digest is a SHA-256 over the frame's schema and its rows in sorted
  * order, a binary cell entering as the SHA-256 of its bytes, computed
  * over a fresh copy of sf0.001. The `*Of` passes run over the union of
  * every staged table, so each decoder also meets every other format. */
class MediaPinSpec extends SparkSpec {
  import MediaPipeline._
  import MediaPinSpec.digest

  /** Frame name → SHA-256 of its output (see [[digest]]). */
  private val Pinned: Map[String, String] = Map(
    "mediaTable" -> "9fee99855e10683a78fb20536acc7541f6c1339320e3162881817beaf780da83",
    "mediaTableStaged" -> "a15953eff4aca2fa41b704b06c7d1faf062dfb610dc40089d7e8510a6cdd5fab",
    "audioTableStaged" -> "924ac03429071fd913d36df6a79eb25d3753b9d5db9dfb60af6f81b9a98e5998",
    "videoTableStaged" -> "1e354ee9bf77c9392cf1b3a6baf78b7374be70f09cf7877f01d35a6e96e0c0f4",
    "adpcmTableStaged" -> "3d8ffeb26457536e8793b76646e33636d5cb9777cf6690f4f1bf5b958d0d3838",
    "pixelTableStaged" -> "018a181d7ec8e4bdc004426f3d5faa31db1a7f57742c6b3d0b42004b88bbdde2",
    "pixelMediaOf" -> "018a181d7ec8e4bdc004426f3d5faa31db1a7f57742c6b3d0b42004b88bbdde2",
    "pngPixelTableStaged" -> "cc0f386381124b92fa3d54d24b5c6d6043aecb0721cc3c3523854e0a517a8096",
    "pngPixelMediaOf" -> "cc0f386381124b92fa3d54d24b5c6d6043aecb0721cc3c3523854e0a517a8096",
    "gifTableStaged" -> "e72d28930223079485f08f68e2a7af6c23483ed34f360a48a1a5db4877492611",
    "gifPixelTableStaged" -> "47c15a022a0b5a8d3000acca725a314ca430f55cc315ce96950f8e4e8d775fdf",
    "gifPixelMediaOf" -> "47c15a022a0b5a8d3000acca725a314ca430f55cc315ce96950f8e4e8d775fdf",
    "mp4SampleTableStaged" -> "b5a64d22c5e285e7a7da1d2f8e93397086caf4ab243a229ea719301163e58f0e",
    "mp4FragmentStaged" -> "123003af5478c0ced570067acbf206eed385a2f28fe68e8de19ed1933e58ab4d",
    "mp3TableStaged" -> "8c160bc8090c53b8be1f69523eef0c06b7d1d7d262f940d40f22ffcb1050b8f4",
    "jpegCoeffTableStaged" -> "daa0917e337ed43c3fd8fab54335fe0e63d8a1b175dd8702c8570418a44ca7c2",
    "jpegMixedCoeffTableStaged" -> "684c4526722b4cd4327f67b929d6faf7c43318d5b63b3b7dd1800e9b60e16deb",
    "tiffTableStaged" -> "7aeb64b9081a96d93aa08c973b04163702df582251f16397593455470a95b8ff",
    "flacTableStaged" -> "6203db9a767900f139563350c2d3e1bf6a33924f53ac185bb31461d92f1aaf21",
    "flacPcmTableStaged" -> "70d66d32593013dc23468a807e71853e9a5b8dcdd633dcb0700f7234c8aed27f",
    "oggTableStaged" -> "c7e66bed5b18b961ebe1b4033cd230c6b3d5944a0f129f0f9651a9edd3e4e444",
    "ahashTableStaged" -> "645a7ac5e0dd790a55e56a425e0b0eb4764b9442f3c03a2bbe7a5627c633b480",
    "ahashBatchStaged" -> "e5a02a4365f77651546c22373d843aff295c563c11be7f06fe3474dd1ded3b3a",
    "phashTableStaged" -> "0ea15c5cb7c5e6967c3db440545d41129e882ca8211ade203372253f66b17005",
    "phashBatchStaged" -> "15bc118dba388a6963c808430e90181b8c88b57c5b347c08aecfa9a57e0b23ad",
    "decoded" -> "3fd1bc0c7f48c4c9d8439ae1ba2462f5c6f76bba233215285ca706ea97751d08",
    "decodedOf" -> "64371abf559afc98d979f4762a7d6cee069f86e84b68de35cdd08212edfde97b",
    "decodedPng" -> "a90196d9c893437c6f092666391c451536d095a1b831eb54e362c24bcd6347fb",
    "decodedJpeg" -> "1da939260b5915e9cc3554ae7e96d46dcf3815ffaed3ef97f981e666a4c67884",
    "decodedWav" -> "6ef65df02755b7951e2149e6c0e54fc38464659c3c023e3db886549dba08ec82",
    "decodedMp4" -> "14042662e65a6e262c6b6a24464f27e110b46d030e247fee741fe7f5b25fa069",
    "decodedAdpcm" -> "e64ddfae0e02a307a4df5c11d1fa8ee8aaf75b16c422231b7c2c4ced0b118311",
    "decodedBmpPixels" -> "14e008ce12a75554f6dfa4d4aecfee8ccb9ed1738e3dd1a4aa2b1ab1e11b26a0",
    "decodedBmpPixelsOf" -> "4f0e4a950dab206d41655f23be2320b94fcb0c5717f59c5655fc9f49fda426de",
    "decodedPngPixels" -> "eab6f9fd2d6c10ac9e4894aa160d87bba993277f7ca839825770467f8a387014",
    "decodedPngPixelsOf" -> "6444c6d903f9a7b6b19e199bc82b16dc0fb7a297596d10f095ef2fddccd66dbd",
    "decodedPngMembers" -> "d7a90a4216ca0ea1cced90c14219247b35b7952d3c112d39b101a610bf29f207",
    "decodedWavMembers" -> "5d42f1d744c0d8820da9d1eba6c8bc5dd3f43bf066ea6766b47b4536f83abe17",
    "decodedPpmPixels" -> "04b9b02a2c497393574bb6dfd7a2f61a65854902c502dd894b8f9cba11815074",
    "resizedBmpThumbs" -> "bb4e5937f7c1146e408b55632fcba283b52c340246e5ceff370a742d6bcf7c60",
    "resizedBmpThumbs_t7" -> "a038866fe24a1ef29700755a54949ca47ecbdd92e26110cbe23ea0c7a5efd785",
    "decodedWavPcm" -> "1fe7248cd5cff4e8890861ff02e36183ec81e53323cfa06ead704fcb6a28073c",
    "decodedWavEnergy" -> "d23b9857778a88a17eb86eb2666f820bbc575786cac6c857f291f843b2cf82d7",
    "decodedWavDft" -> "1a2e59f6b550aae738f3da0ffc7cff70a78770aa57c3d83cd6d7365c0e479f4e",
    "decodedGif" -> "25e7de62c9944703e407144d4986356df629afd9d64fda0f96be1e082b06e9c0",
    "decodedGifPixels" -> "534aad4af0356ae42a6d5ed5b0f2b689882954a8230eb565bd7859d75d18d093",
    "decodedGifPixelsOf" -> "e354e0ea45b7e91ce55c5caac679862dde92768ca3ebb591bdb709bd2a805061",
    "decodedMp4Samples" -> "a8400d002027a350b786c7e824f547c57b4ab7d7a16e680ca7d06c6eb6876bd0",
    "decodedMp4Sync" -> "103582b3432d87917aad8197d5f8c05de4efd45b2e16db774ab1208032aeb23b",
    "decodedMp4Fragments" -> "e540fec30d7ee82be7a5101ea1c3768bd01e09dc3c928f88aa7b6b3fa8d9258a",
    "decodedMp3" -> "c7cbe1250463d44ed3daa2beccff400fc32b5c1a32a4cd36b0ed776864331244",
    "decodedJpegCoeffs" -> "511ea23044e5c0f9d2ac4ca875b83fb9ce0f636399f8717196d5e4131a92bd58",
    "decodedJpegCoeffsMixed" -> "511ea23044e5c0f9d2ac4ca875b83fb9ce0f636399f8717196d5e4131a92bd58",
    "decodedTiff" -> "3175e34d0eea98156ceaf15da1efa87b2a82c89476cc2eae19c8b9200d18b568",
    "decodedFlac" -> "03e3b438211a2dc103ee3b3af0e16a251afebce90bcca553fa49cb34028ba96b",
    "decodedFlacPcm" -> "fc679e7b69e2c9a5cb3bacb27de11c4d730eb29e8b539259f0846cc828f47db1",
    "decodedOgg" -> "a8e1a05709eba0aa6aa449b8b2a9fc160395ab17727de458c99d05c29e71b0a1",
    "decodedAhash" -> "e443af88b039ba870f31b53353cbf564fcd7d972af6a3f58ce16d0de24b1c988",
    "decodedAhashOf" -> "0d58cf6ab4d4030dbfda731286ee7a6e99f539e93d95599bcf45d44bb4b7ad6a",
    "decodedPhash" -> "58fe5d04b888a7c91b1d0cd5893bc97889f0a1b0c07103e18b3fe3cedd3ecfdd",
    "decodedPhashOf" -> "741e6644d742b39ed40bab9379859ddec30d626a1aa0cdaec0a6f8979092794a",
    "mm_audio_energy" -> "e2d20c7827d02a2d402ad6bf00e713001af97cd57a01a1d0e5e59c03bcfcd2d2")

  private lazy val dir = sf0001Copy("graft_mediapin_")
  private lazy val ids = graft.Tables.documents(spark, dir).select(col("doc_id"), col("source"))

  private lazy val stagers: Seq[(String, () => DataFrame)] = Seq(
    "mediaTable" -> (() => mediaTable(spark, dir)),
    "mediaTableStaged" -> (() => mediaTableStaged(spark, dir)),
    "audioTableStaged" -> (() => audioTableStaged(spark, dir)),
    "videoTableStaged" -> (() => videoTableStaged(spark, dir)),
    "adpcmTableStaged" -> (() => adpcmTableStaged(spark, dir)),
    "pixelTableStaged" -> (() => pixelTableStaged(spark, dir)),
    "pixelMediaOf" -> (() => pixelMediaOf(spark, ids)),
    "pngPixelTableStaged" -> (() => pngPixelTableStaged(spark, dir)),
    "pngPixelMediaOf" -> (() => pngPixelMediaOf(spark, ids)),
    "gifTableStaged" -> (() => gifTableStaged(spark, dir)),
    "gifPixelTableStaged" -> (() => gifPixelTableStaged(spark, dir)),
    "gifPixelMediaOf" -> (() => gifPixelMediaOf(spark, ids)),
    "mp4SampleTableStaged" -> (() => mp4SampleTableStaged(spark, dir)),
    "mp4FragmentStaged" -> (() => mp4FragmentStaged(spark, dir)),
    "mp3TableStaged" -> (() => mp3TableStaged(spark, dir)),
    "jpegCoeffTableStaged" -> (() => jpegCoeffTableStaged(spark, dir)),
    "jpegMixedCoeffTableStaged" -> (() => jpegMixedCoeffTableStaged(spark, dir)),
    "tiffTableStaged" -> (() => tiffTableStaged(spark, dir)),
    "flacTableStaged" -> (() => flacTableStaged(spark, dir)),
    "flacPcmTableStaged" -> (() => flacPcmTableStaged(spark, dir)),
    "oggTableStaged" -> (() => oggTableStaged(spark, dir)),
    "ahashTableStaged" -> (() => ahashTableStaged(spark, dir)),
    "ahashBatchStaged" -> (() => ahashBatchStaged(spark, dir)),
    "phashTableStaged" -> (() => phashTableStaged(spark, dir)),
    "phashBatchStaged" -> (() => phashBatchStaged(spark, dir)))

  /** Every staged table at once: the input the `*Of` passes decode. */
  private lazy val allStaged = stagers.map(_._2()).reduce(_ unionByName _)

  private def members(paths: Seq[String]): DataFrame =
    TarSource.members(spark, paths).withColumn("site", col("file"))

  private lazy val passes: Seq[(String, () => DataFrame)] = Seq(
    "decoded" -> (() => decoded(spark, dir)),
    "decodedOf" -> (() => decodedOf(spark, allStaged)),
    "decodedPng" -> (() => decodedPng(spark, dir)),
    "decodedJpeg" -> (() => decodedJpeg(spark, dir)),
    "decodedWav" -> (() => decodedWav(spark, dir)),
    "decodedMp4" -> (() => decodedMp4(spark, dir)),
    "decodedAdpcm" -> (() => decodedAdpcm(spark, dir)),
    "decodedBmpPixels" -> (() => decodedBmpPixels(spark, dir)),
    "decodedBmpPixelsOf" -> (() => decodedBmpPixelsOf(spark, allStaged)),
    "decodedPngPixels" -> (() => decodedPngPixels(spark, dir)),
    "decodedPngPixelsOf" -> (() => decodedPngPixelsOf(spark, allStaged)),
    "decodedPngMembers" -> (() => decodedPngMembers(spark,
      members(stageWdsFixture(tempDir("graft_mediapin_wds").toString)))),
    "decodedWavMembers" -> (() => decodedWavMembers(spark,
      members(stageWdsAudioFixture(tempDir("graft_mediapin_wdsa").toString)))),
    "decodedPpmPixels" -> (() => decodedPpmPixels(spark, dir)),
    "resizedBmpThumbs" -> (() => resizedBmpThumbs(spark, dir)),
    "resizedBmpThumbs_t7" -> (() => resizedBmpThumbs(spark, dir, 7)),
    "decodedWavPcm" -> (() => decodedWavPcm(spark, dir)),
    "decodedWavEnergy" -> (() => decodedWavEnergy(spark, dir)),
    "decodedWavDft" -> (() => decodedWavDft(spark, dir)),
    "decodedGif" -> (() => decodedGif(spark, dir)),
    "decodedGifPixels" -> (() => decodedGifPixels(spark, dir)),
    "decodedGifPixelsOf" -> (() => decodedGifPixelsOf(spark, allStaged)),
    "decodedMp4Samples" -> (() => decodedMp4Samples(spark, dir)),
    "decodedMp4Sync" -> (() => decodedMp4Sync(spark, dir)),
    "decodedMp4Fragments" -> (() => decodedMp4Fragments(spark, dir)),
    "decodedMp3" -> (() => decodedMp3(spark, dir)),
    "decodedJpegCoeffs" -> (() => decodedJpegCoeffs(spark, dir)),
    "decodedJpegCoeffsMixed" -> (() => decodedJpegCoeffsMixed(spark, dir)),
    "decodedTiff" -> (() => decodedTiff(spark, dir)),
    "decodedFlac" -> (() => decodedFlac(spark, dir)),
    "decodedFlacPcm" -> (() => decodedFlacPcm(spark, dir)),
    "decodedOgg" -> (() => decodedOgg(spark, dir)),
    "decodedAhash" -> (() => decodedAhash(spark, dir)),
    "decodedAhashOf" -> (() => decodedAhashOf(spark, allStaged)),
    "decodedPhash" -> (() => decodedPhash(spark, dir)),
    "decodedPhashOf" -> (() => decodedPhashOf(spark, allStaged)),
    "mm_audio_energy" -> (() => MultimodalQueries.queries("mm_audio_energy")(spark, dir)))

  test("every public stager and decode pass is pinned") {
    assert((stagers ++ passes).map(_._1).toSet == Pinned.keySet)
  }

  (stagers ++ passes).foreach { case (name, frame) =>
    test(s"$name output matches its pinned digest") {
      val df = frame()
      assert(df.count() > 0, s"$name is empty")
      val d = digest(df)
      assert(Pinned.get(name).contains(d), s"$name -> \"$d\"")
    }
  }
}

object MediaPinSpec {
  private def sha256(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .map(b => f"${b & 0xff}%02x").mkString

  private def cell(v: Any): String = v match {
    case b: Array[Byte] => s"bin:${sha256(b)}"
    case null => "null"
    case x => x.toString
  }

  /** SHA-256 over the schema and the sorted rendered rows of `df`. */
  def digest(df: DataFrame): String = {
    val rows = df.collect().map((r: Row) => r.toSeq.map(cell).mkString("|")).sorted
    sha256((df.schema.simpleString +: rows).mkString("\n").getBytes(UTF_8))
  }
}
