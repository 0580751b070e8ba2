package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Text pins for every DuckDB oracle: a SHA-256 of each entry of
  * [[SparkEntry.oracleSql]] (rendered at [[Stage.GateDir]], so the
  * staging paths some oracles name are fixed) after [[OracleSqlPinSpec.normalize]].
  * A refactor of how the packs build their oracle SQL (shared helpers,
  * one twin referring to another) must leave every digest unchanged;
  * only the layout of the text may move. */
class OracleSqlPinSpec extends AnyFunSuite {
  import OracleSqlPinSpec._

  private lazy val oracles = SparkEntry.oracleSql

  test("every declared oracle is pinned") {
    assert(oracles.keySet == Pinned.keySet)
  }

  test("normalize drops comments and collapses whitespace outside literals only") {
    assert(normalize("  SELECT  a , -- note\n\t b\nFROM t -- end") == "SELECT a,b FROM t")
    assert(normalize("SELECT (x + 1) / 2 AS y") == normalize("SELECT (x+1)/2  AS  y"))
    assert(normalize("SELECT 'x  --  y' ,\n\"a  b\"  FROM t") ==
      "SELECT 'x  --  y',\"a  b\" FROM t")
    assert(normalize("SELECT 'it''s  ok'   AS s") == "SELECT 'it''s  ok' AS s")
  }

  SparkEntry.oracleSql.keys.toSeq.sorted.foreach { name =>
    test(s"$name oracle SQL matches its pinned digest") {
      val d = digest(oracles(name))
      assert(Pinned.get(name).contains(d), s"\"$name\" -> \"$d\"")
    }
  }
}

object OracleSqlPinSpec {

  /** SQL text with `--` comments (to the end of the line) dropped and
    * whitespace normalized, both only outside single- and double-quoted
    * literals: a run of whitespace and comments becomes one space between
    * two word characters and nothing where it touches an operator or
    * bracket (`0.5)/1000000` and `0.5) / 1000000` are the same SQL), and
    * leading and trailing whitespace goes. A doubled quote inside a
    * literal closes and reopens it, which leaves its text untouched. */
  def normalize(sql: String): String = {
    val out = new StringBuilder
    def gap(at: Int): Boolean = at < sql.length && (sql.charAt(at).isWhitespace ||
      sql.startsWith("--", at))
    var quote = 0.toChar
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (quote != 0) {
        out += c
        if (c == quote) quote = 0.toChar
        i += 1
      } else if (gap(i)) {
        while (gap(i)) {
          if (sql.charAt(i).isWhitespace) i += 1
          else while (i < sql.length && sql.charAt(i) != '\n') i += 1
        }
        if (out.nonEmpty && i < sql.length && !Punct(out.last) && !Punct(sql.charAt(i)))
          out += ' '
      } else {
        if (c == '\'' || c == '"') quote = c
        out += c
        i += 1
      }
    }
    out.toString
  }

  /** Operator and bracket characters: whitespace next to one never
    * separates two tokens. */
  private val Punct: Set[Char] = "(),;[]+-*/%=<>|".toSet

  def digest(sql: String): String =
    MessageDigest.getInstance("SHA-256").digest(normalize(sql).getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Query name → SHA-256 of its normalized oracle SQL. */
  val Pinned: Map[String, String] = Map(
    "avro_evolution" ->
      "5debdd0dbcf53486cb98f2c285112dd9024d31e832ece97fc97cc250a19c9038",
    "avro_ingest_live" ->
      "76785080c0a5c3f44df97fab07b860f01b5fe5a9458c87100f7374d24749a959",
    "avro_roundtrip" ->
      "76785080c0a5c3f44df97fab07b860f01b5fe5a9458c87100f7374d24749a959",
    "crawl_frontier_pipeline" ->
      "fd191385dbf98d2e7c3b14cf4518f16a43009d8c9f591a1fc8d0fb6eb39475ea",
    "crawl_host_rank" ->
      "bd87cc4688c8b4258e56e0dc0d196b4d61cc5c454abe1557adfe2c9140837b68",
    "crawl_link_graph" ->
      "f783b0342fca8b6bec324efd948bef825769f4bb9f31df5348cb018514f3538d",
    "crawl_robots_filter" ->
      "96ee6d7ec3ccf03f5cb65684c8e2add5de9a5a3127cadff3970d56effbf848e0",
    "csv_gz_roundtrip" ->
      "8ec59eeafb12d694fa14036f8de927887bfe150ff3561b8fe3947404da0594dd",
    "csv_multiline_roundtrip" ->
      "88e0eb133724b7560494b348015bcba444d7ea3e20de9bda7489b9d88ac93261",
    "csv_roundtrip" ->
      "99bee69cc169ed72309726b147b917edaf75af860ea73e47e04d2adfe1b7a53c",
    "dedup_canonical" ->
      "4e8a66cbb39f6d95b67c55ca391eab4dfad05a6f0a5fe244dea2c0b6fe70275b",
    "dedup_canonical_best" ->
      "a845f26080655973eaccb680ba02b328e87cec5d9208c96562b2a655d2764dd4",
    "dedup_components" ->
      "8133f32fa884daabc2306041d2935da95c41f7baf70ad0fcdf53b67323ceb0da",
    "dedup_contamination" ->
      "ddeb8c1832a35f0bfc8ef24dd98a1f351836418b2cb50eb3c8a0616a4727eca4",
    "dedup_contamination_ngram" ->
      "90e96ca4db0c42e22bff1da6a19e48d6e623d671a78e9a984438f9c769fb3bd1",
    "dedup_embed" ->
      "ac0b7be7082704f812b9bbe3f1ce2d5b734b46578a81fce00d3eb6b9decba5cf",
    "dedup_embed_ivf" ->
      "78fa16ef4fdb7ed5f617bde914c4b33579da286bf3484086b5d1a8ba915c9c86",
    "dedup_embed_rhp" ->
      "6fec9cbacc45aa4f6d9a8fd665154a3b0d05f22819ecf22001b0d981019520cd",
    "dedup_exact" ->
      "d076ab8044c4a0f9f50b5be30ff63378328f5f6ecd1cc564c4386d74269eb026",
    "dedup_fuzzy_edit" ->
      "a59e206dc4d03ca120b171a1e120bdc11b931d887d3864d9bf0359f8583eee7c",
    "dedup_incremental" ->
      "a67ff2cc5551113669e828346a8c8166aed2874231091e46afed407fd8fe320f",
    "dedup_incremental_indexed" ->
      "a67ff2cc5551113669e828346a8c8166aed2874231091e46afed407fd8fe320f",
    "dedup_incremental_indexed_update" ->
      "7e503cadfd84a10a6c7118342adbe204dd92f7acf839b4e111e7caa71897a8e6",
    "dedup_incremental_neardup" ->
      "dbf2bd99f27fe1cc957b6c760558493ec5ffa7a7a977b82ba51b1b9d92798444",
    "dedup_incremental_neardup_indexed" ->
      "dbf2bd99f27fe1cc957b6c760558493ec5ffa7a7a977b82ba51b1b9d92798444",
    "dedup_minhash" ->
      "ed639b7229eb08c2dfc40a5a27241956599016bddde9d82fca7a4357360a4c07",
    "dedup_minhash_capped" ->
      "06b3fa77111909eff3d785170468a55fc86501a0353bd0cca1264bc963e8d912",
    "dedup_ngram_jaccard" ->
      "1692d1088c27bfcf3c02cb7979f0f2a05e9aa4413dcd145a5448808ac3cb6244",
    "dedup_prefix_jaccard" ->
      "1692d1088c27bfcf3c02cb7979f0f2a05e9aa4413dcd145a5448808ac3cb6244",
    "dedup_script_jaccard" ->
      "b1d8a6acbd3779c578470561f60cf5ee405d302f2b6c00fa6e1daabde049f79b",
    "dedup_semdedup" ->
      "b4c4bb50e02e63579b0ea02a098bc14274ae894cbc24e76cd1471dbefe3910fe",
    "dedup_simhash" ->
      "6ca070dfd43bae7a126b58a6b09b7026ffb5fe9a05cd5da7c8311e7510ecd552",
    "dedup_simhash_capped" ->
      "6fb8756eef30796c0a71735f20c1fea5ad3732a8bb7d363f3b9528dd8f4406c8",
    "dedup_span_merged" ->
      "726135e526e531fa835cf106a2cd8e43c0993fa6aa5faa98dc0bd45fe67dab78",
    "dedup_span_ngrams" ->
      "0ee942609c84787af39f78603cba6dfae36bb2f33f095a2c055ed1779ee916d0",
    "dedup_span_suffix" ->
      "308469508a92a4220bfc1c92e46efb076005e3a6d80d19d245ec9809d016931b",
    "dedup_threshold_curve" ->
      "3f8fe814115339be389c79334074e93fcf151c10c14523c42f5559801b7afcbd",
    "dedup_triangles" ->
      "5164ff4c139cd725ba92ceed1d1476523c9fd731a493207b4395801a3868265e",
    "dedup_url_canonical" ->
      "ca361dd1c627dee603e43746de6582931441e2e0b81de6d933c202a1bfeeb269",
    "dir_wordcount" ->
      "e617fa4d72fa6158f54cd6fe92bbbd97445f35946cfb8d5f759bba9bbf93ab57",
    "doc_simhash" ->
      "2ec81fb86a86348304ed9882447fb8049bd7fe632be79f94f47fc812ea2e4bf6",
    "doc_token_stats" ->
      "960ec3d54bfdacd420389033f290a0090f2af6e5a4c639ec03285f3da3a21e76",
    "docx_extract" ->
      "195b55dc259d0b523a773b4048aeedfc631619a02a560b238b68196d6836b031",
    "dq_drift" ->
      "5ab1b33bbc975a2b54d4f3a2f19c0555ceccb4fa993994aaa45ec83f32bcb3fe",
    "dq_outliers" ->
      "cbcb8a24f0671947e2a32c5360bc4b735981eac65d8b6bce46e22987499da374",
    "dq_profile" ->
      "e29d58925431c01a0ed08794fc843f186c2649d24a3b5ddc62f0d174e13f45a0",
    "embed_quantize" ->
      "d3402ee8d1130bc7495eba37a383d4e506a78edf4eefd686e2e4b8becc6c37df",
    "epub_extract" ->
      "756db3b4df9582d0112510c60b387df0465b9f0d25494be90c63a1bb731250be",
    "graph_pagerank" ->
      "6ca41ce4400eba32ba95d4992e70d454325d736cb4f7343c8797233e902f0f9a",
    "ipynb_extract" ->
      "2a4b3660bcac5d8df662515c22cdec2f489b574efe6f4d55f701706c04f444cf",
    "jsonl_bz2_roundtrip" ->
      "76785080c0a5c3f44df97fab07b860f01b5fe5a9458c87100f7374d24749a959",
    "jsonl_corrupt_audit" ->
      "bf50ef37d954094ef25c150a169e02e8dbef5d3a70d09ab8999474aeb3597f97",
    "jsonl_gz_roundtrip" ->
      "e983c37c44a279711bc75cc714e672bbf3b22de3f0bc00e78e73811b530d7de7",
    "jsonl_roundtrip" ->
      "a005e58320a8da0e85513feca29034387d76b5dd39a1beaac1dc4fefd2b62340",
    "jsonl_zst_roundtrip" ->
      "816c70d76eb679f68a0cb05f96c3294bbe7c4b145a277f0ece3c5dd4c00907b7",
    "lang_minhash_sim" ->
      "9390fff69fdb147368f6b1efdd289ee9fdec8c51f26d34916fb998a2bc83d1dd",
    "lang_minhash_sketch" ->
      "d40bb00d0c57cbc5afd2251b2a8f064c4857eb12598b49469e1419147458f18b",
    "md_extract" ->
      "112760c9e23021bccecde0653e5839831002d4f694f4cb51e5290a763e8bfa41",
    "mm_ahash_dedup" ->
      "6e85f79e832cd29741c98f30c0db35a6ca5f4a4d02a2236c0f61eaa93e816112",
    "mm_ahash_incremental" ->
      "a42ef6d5499dd075550e59146b78540c1c97727160c17ebe62ea06a3790903df",
    "mm_audio_dft" ->
      "a3d950d839e39c013ab32e07e8fae266acef18bb9fe9a5b42e192da1a91465a6",
    "mm_audio_energy" ->
      "d7083407a5b7f4e84c6b2182a8979d528f64729b1ed049a4d7958158df37dc4d",
    "mm_bmp_pixels" ->
      "3dff17780bfc8736ca042add941df49e933c3f52a4d01527ccd6c960bdaca32b",
    "mm_content_dedup" ->
      "ca46daab55abe3e11605297f129247c40c424d196e7f3714d9c6fe4e71e218f8",
    "mm_embed_topk" ->
      "28473ea3c1ee30a00817dab05785fa794277a1001ebe7336cf2d289e54df338c",
    "mm_exif_meta" ->
      "75e5220fc6fec44994c8944a1a4e3c50502d73c342e90f77cb90160db683cf97",
    "mm_flac_meta" ->
      "e56e5f07ec0adf21dc0694135fc8675bfd4de24b9d8109a02a2e3760c3fe71c6",
    "mm_flac_pcm" ->
      "566e57e7d89cd93d34be1eb45c607178b5cf4bff747d9545a431ac3835781cd2",
    "mm_frame_sample" ->
      "15b21525a53b59840fbafb0fdae69afded7089429ef4ac8c2a35b31219a3e303",
    "mm_gif_meta" ->
      "07ba5713887893adc673e6abad013111b26c4a776f4d837d11ea2e8a2f8beafb",
    "mm_gif_pixels" ->
      "12397d56ecb7c4223f99ae5a790bfe282c6a8055672d2c818554ec7fbdd5d221",
    "mm_jpeg_coeffs" ->
      "af0522e0cb1e1ccf6ee4e0932f02a9cec9734940d5992c931fca59fd97ee8612",
    "mm_jpeg_coeffs_progressive" ->
      "af0522e0cb1e1ccf6ee4e0932f02a9cec9734940d5992c931fca59fd97ee8612",
    "mm_jpeg_meta" ->
      "7ec2eafe6a78b7b3d83269f12de000f8a5e1f4c53c3346ea27f7ff3c17149bfc",
    "mm_meta_stats" ->
      "3ca6e79ce751059cc4a0fbb73490c9b3830301525a3f4b9b064aec43db238966",
    "mm_mp3_frames" ->
      "97f987079a8be2738323ce3401ffa1835aa0c4ae50c6e4b9bd72ed8188d473f1",
    "mm_mp4_fragments" ->
      "7fa69b036e05ab38a4e0e32fe2714f1a133fe91f09e9c7855d731d90d5c7c641",
    "mm_mp4_keyframes" ->
      "efc228283e502ab5764ac62b9d00b8cd6934f6428e94f88caf53bfd3ad8dcb98",
    "mm_mp4_meta" ->
      "799a5fe7481245b382fe9686b9afb5750d3cd529ee498e78bf79f0cc8652f003",
    "mm_mp4_samples" ->
      "647de929894c694a87aa2666a6f09bc73da407a347ebdae859130474f27f1a61",
    "mm_ogg_pages" ->
      "b9c6315bb4fa44cc3f74f7678540a3ba1896d7b4766b819c606311e8cd41c61e",
    "mm_phash_dedup" ->
      "0e1e7b77cb42a1fbe4cf1132d05c2d101f1f748eca7fc480aa97f91230aff54c",
    "mm_phash_incremental" ->
      "39a2bfa89f791b3ef2aaa4150876423d376a3114375ae7fdc1a5ddb4f8b55980",
    "mm_png_meta" ->
      "0a705e36194d55e6a6fdbec344ba9720e804f5f2f31ba73b5437c4ba8bbecfca",
    "mm_png_pixels" ->
      "448992efa56e3b458787be3088071192253cc5ac3c5d8321f0587527b9cb8269",
    "mm_ppm_pixels" ->
      "80121a880086693ac8cea8a5ed6575f93e3ade3fd2e0eb355cf4da77d8060ccb",
    "mm_resize_exec" ->
      "622bad89d3419a37b126ffd0f032ac80918ba3638f3fb00677951da5ab151d44",
    "mm_resize_plan" ->
      "f777365f3c6700a0ca682763d080852d64c66b6ee1f66465848daa7beaf4de02",
    "mm_wav_adpcm" ->
      "e515510d8106be41fe0db6b29a6b05de02cfe06ec7e66ff0ce7a3feae4913530",
    "mm_wav_energy" ->
      "50825f78f619c03905a79dd407abad4eb3926e4e2619b922c3a80bf1ab8dfafe",
    "mm_wav_meta" ->
      "ab9496d9c6c8340f5b4285a12712613cc9fc9ca0e729fc4afa50af037d814fac",
    "mm_wav_pcm" ->
      "ebc0e7aecb18a7c09b375b0491c173f837c9cb328a5cb9f93fccd7fcd984d0d5",
    "mm_wds_audio_pipeline" ->
      "017d449147f5f7f2b455df134f3a0b6c3e9287a85c178f66b46304c6f67151e9",
    "mm_wds_pipeline" ->
      "3ccf217a4bee8a8faf665b3d4940962a4d8e4c17efcbc1b4f614ad23438b5bfe",
    "ods_extract" ->
      "075c5dbfb4a0da66435b3cfd1d515dd23f86fb29ec882b65fd5597707066ddad",
    "odt_extract" ->
      "48096f0f495e7ded46dd2fb255a85a6dfaea6c9f4ebbbecdc96480dd5c5c3383",
    "orc_hive_roundtrip" ->
      "5bfe5d91b16d8b6884c985c03dd06fb37c2cbbd255e06f496d9e473f76a0388e",
    "orc_roundtrip" ->
      "76785080c0a5c3f44df97fab07b860f01b5fe5a9458c87100f7374d24749a959",
    "pack_sequences" ->
      "6da07285d4f2c3db820fbc80e62390ed884b955a74daf1cbd226b387b6e13715",
    "parquet_evolution_roundtrip" ->
      "3f62fa4cac77950207275001287d6cc26749be13c4936a0e38bc7db935354398",
    "parquet_footer_audit" ->
      "6f766f31f24a583d4b95b69503ae7e3d52b7d27c6ddf80a50054a82682be0cfe",
    "parquet_hive_roundtrip" ->
      "9c3653fb66e30c451b19ad9fc32fcd656ad216e0ddfc535c185e6b0430c0964f",
    "parquet_zstd_roundtrip" ->
      "5fa5030b2c43dae54bf9f31fa7f19e58160335236f7a218672db182fcfd36733",
    "pdf_extract" ->
      "3d1d3a84aae3115c31417edbf2afc05e5a324690e1459625954474908d13fbb2",
    "pipeline_clean_corpus" ->
      "d02267205f40832aea570da4ab1777dfb9de2a215c3083713d9725e550d3215b",
    "pipeline_crawl_corpus" ->
      "4e0713727fdd8dcf283ae82fa1e265092e5e4340c9affc6f607738fef2dce52f",
    "pipeline_mixed_extract" ->
      "0399873af5ab14c97f85dc330420af7206f57a25ed027f730f95d0f0ce440bb1",
    "pipeline_seq_pack" ->
      "1786f7888af98b3685521258d181e4797204b39652a8e4c75bfec782a8857fcd",
    "pipeline_shard_balance" ->
      "81db6ef7f7f9bce692f780c26d64e87bcb3eb6a1d8b2f3188e2cf6b7f0426c8d",
    "pipeline_token_mix" ->
      "f8bdb8f29594c6a98bf44a157d11cf19943bad75aee9857b0f865ff74bba3af8",
    "pptx_extract" ->
      "3e0ffa2e11f4c43c23cbc7d5e0cbe77ead41e56494dccf418443c4ecb4f4df66",
    "q1_agg" ->
      "5430ecf4bcaae6c3ba46d896c75692b58e19188b681a1b3aa8d674538bc88000",
    "q3_join" ->
      "a5d5e83801b07ce750edb073a561b29ebdfde0c1eb6abc06fb973f67ce5ae5c5",
    "q_anti_join" ->
      "25742d62acf85a90b6354125b45e49014d812c4562c5d22426750a057ee890b8",
    "q_approx_topk" ->
      "ad6b297b979e8a3e3f5c0a0bb8b9d5cb4e233860c981d93ac7432a1d5d070377",
    "q_array_funcs" ->
      "1b90a25a1591ab424e02670b3d1238fc30dd73d140161029fc25f71a9c729963",
    "q_asof_join" ->
      "72ca8c8616274dac30eb262164ebcccb1712f632995d4c45f799ecab8d8a5df7",
    "q_bloom_join" ->
      "1f6a66903c94a00874c8bbc2dccef23dda2e132d94797f0fe92c1587969f5618",
    "q_cdc_compact" ->
      "580f527fa22e4270263041fcf21ef843eb94939c4cfac619d9bfa7c247cde050",
    "q_cms_freq" ->
      "90d29d93aedbd9f5e35067be382e381f97d067ff9f26e12add3f93d74a4f6e6b",
    "q_cms_merge" ->
      "300043b5635ae43a8e4e23cd22a27b6d18d5f25be81ee5698b43dfd7432d8ba3",
    "q_compaction_plan" ->
      "eb972e73d1e78b4b65fa47c7f0b15b3c2e1088994e39b1b9ee95c4e5ea998707",
    "q_conditional_agg" ->
      "6ddd5bb69e2fe68d18be9bbf3910ce6137b378dc8ba0131d5991b568996dd1bc",
    "q_corr" ->
      "e7fe11988d8ae93fa367065d091153afdcc7046c81c16bd62dc7210421b031d5",
    "q_correlated_min" ->
      "bd4d197bd4d4efa0789138dc1e606bc680027b2c1107f169127d8dae90bf56fd",
    "q_count_distinct" ->
      "77dbd2ae496874faf9f15518b511294c8e60e5f59a0a892ffd621c48ec47efae",
    "q_cube" ->
      "6bde8fa43837d655ea25f391bd205419a31aeeece451688377d431ced28efe20",
    "q_date_funcs" ->
      "b04b46866bb0005faf8abbabc2e24cdbe1ef0fcb2db692d8b8643c1fc84ec719",
    "q_distinct" ->
      "50003ad223a6ca054b1449ed9eb52b18f679ba6a817c49542ee448410e8fc95f",
    "q_ewma" ->
      "9acf2966591106aa8a864d25491d85db753be2b10480c7c284e089984d4f535c",
    "q_exists_subquery" ->
      "d5cac97cef150295f0e9ac63c5e4fa5784400645ad560ed8c96ce8c56d35b2f6",
    "q_filter_project" ->
      "ef865967c8882071cf839cd6ced362855dd6f9cbc8ff1abe99abd9e781b3b1ae",
    "q_first_last" ->
      "6aeb9013c5b2bb44d60c81c09f48399b2a26d5aa65145182c52cda937675ab68",
    "q_funnel" ->
      "a81784c05899f4689fd9e93f58b62f5bae0e93d8da40bf7b6d6b0330c0de1c40",
    "q_gap_fill" ->
      "75247d172be6c75071080601c8cea48e160c1f836e4aab26b96013c3ef803847",
    "q_grouping_sets" ->
      "0c1b5f92247e3d31f4b9cd06f24aa1d310af6eb4243b31b2423330caf8e3c39a",
    "q_histogram" ->
      "0638853425465b565df5ecbe620dfe7dab0899794ef84b5a549fc72a94af7632",
    "q_hll" ->
      "11697b71945d6d2efb4edb55a2fdd844de3668caa7d6da2e7f7300d6c817f53c",
    "q_hll_merge" ->
      "9f0f8612a27c66ff345e8db84a88ea7abbd5b3f6212ca6c601cc111d9efe1540",
    "q_json" ->
      "20bc2d9485e170a445212c3e78f3d380769dbff8b9ad11c1023c9f65e2888e1a",
    "q_kmv_distinct" ->
      "bfaa63d0670e61134f9ca68e2c9151087997fc108ea4abcf6276db76f4e76971",
    "q_kmv_overlap" ->
      "bff03dd9172a3d711eed581682567c6db402c22c89421e29b155bd855c294ba4",
    "q_lateral_join" ->
      "b5ffc89ddde28e87f7c5100b66e592451f7457d7448929e0d8a68c1062b3ed70",
    "q_map_funcs" ->
      "ae485ad3073d6cb0df5daed83f67bd9c1493354aa710a108c8439f6f4f2a9670",
    "q_merge_upsert" ->
      "8e0483ffa8cebd04e3878905e0f329609ffea34edf3370095b6c2bd16e7197ad",
    "q_merge_upsert_bucketed" ->
      "8e0483ffa8cebd04e3878905e0f329609ffea34edf3370095b6c2bd16e7197ad",
    "q_multi_exists" ->
      "8b13dccf1ab7b0a6c876ed9a539df7991990fd4a899b8ce3e02d5530aa02d83b",
    "q_mv_refresh" ->
      "3a091aa16b26e3f43b8af6491a5fe214866076d2a5af649697692e425f95f476",
    "q_outer_join" ->
      "f3ffadd97d28615405e5d2e1ad50fb89b8a33740cd655f5adef7741700590335",
    "q_percentile" ->
      "7a08861f144964f70e3a08d52f728817fdcc648b0aa33f586b183af6a53153c1",
    "q_percentile_approx" ->
      "41d615a3a8f163a1bcf482bc8bb5002e131b2af97362093127c28bd3b2d9bc71",
    "q_pivot" ->
      "63278382909978053e5e43d75088d5338506cc3c11f65276a83bb4d8f3384c9b",
    "q_range_join" ->
      "d7041b1878565b133f7d2fd603cfb98adb545de28ff9f573737f2242698335ae",
    "q_regex" ->
      "0f981601ccd5c04c488835f7b685c1d16354f61c5db5bef355beca95fe43803b",
    "q_regression" ->
      "ef0d9381e728188af941c697cae5fca036dde1b37c18dc78f86733edf785a043",
    "q_retention_plan" ->
      "1a69e4be165103da8d508bbba8c42b9cb0d7f2ced08fcffbcae05436ab401ff7",
    "q_rollup" ->
      "742622478f69fb10562042a718a32ca8295a69b01e5f653a683b48321b7f9156",
    "q_scalar_funcs" ->
      "6b0bfed7ea8554e2ba7e350b704c6958358dd4f2671e90fcf69af63547ac2441",
    "q_scalar_subquery" ->
      "eec7e138938f322ac92c1fc89189fffd6f8504ef94be9d06bcdb75f1b6a3447f",
    "q_scd2_intervals" ->
      "dcc5a0969809c13b1eb80a82baf5377aab942173deed274609d84e2501c4c1f7",
    "q_semi_join" ->
      "8570a04c0983b6d626fcad45a15c836119be34b4c6f444e044b9bef7b085164d",
    "q_sessionize" ->
      "ec5fd8dc0f5c7e56523cb4343b929691993c6edb7218c21699a6c0f0eb9a6d6a",
    "q_setops" ->
      "f0c7efc50d89a6e29ed29373dd63ff221f3270df0dd3c676d345d81cb83a9d4f",
    "q_shard_manifest" ->
      "0da3e8395004c892d5d49bf85a28ed713bd8592839934bde66cabc1f7f8c5feb",
    "q_skew_agg" ->
      "f14362359a72bf089f57f45bbfe13fa82c7722d6facbc1af615b779ae0776ccf",
    "q_skew_join" ->
      "fca57f52fb15378ef7a639dd6e41d2a4f45316781742d69d07966d58166756d1",
    "q_sliding_window" ->
      "c89e913db01edb2a16b5c6ba7f4575971bc382d7c06b904967dde23a26536f8d",
    "q_snapshot_diff" ->
      "dce3608fcee0f5306cf1602a06c239e6ce2f559ed3129bc9ace05bc6235295a3",
    "q_split_assign" ->
      "636e21f28956552891e31d32bdb22d6517be866964ce17b26268b9daf1b79847",
    "q_string_agg" ->
      "20483b9d9af179d1d5c51cf6d040e2380944d89d7f0b79365178480a51801745",
    "q_table_checksum" ->
      "1c70674c4c7685451e3e614b6c2fc4f325e962cb70fcf51616aca6e0be5cbcb0",
    "q_time_bucket" ->
      "af7a9264c339be8e641ea611a4a459611e80e39864ce7ecbb71529a8f63ddb13",
    "q_timetravel_read" ->
      "872684afe6dbaa81b1c6f3b91d1af9956efec40bafcabbaa0e25ff70133fb2fe",
    "q_topk_orders" ->
      "d4b3fa3c69dd37990f245a0e3fca43735f59678584c1965e978225a16f99cb34",
    "q_topk_per_group" ->
      "91de2dbbcb2ddf26a0a14aeaf10d184c601e674f0d8cc107e49451e9a2411b58",
    "q_topk_udaf" ->
      "91de2dbbcb2ddf26a0a14aeaf10d184c601e674f0d8cc107e49451e9a2411b58",
    "q_txlog_compact" ->
      "efc20cbc3de98b3c924a26763a3723b71d0a8810d09a807ca50c08dca4a0a2a9",
    "q_txlog_stats_prune" ->
      "0289c296aec66e4da1d80fbc016d7a4f19b9357edad67787019e84db796c4924",
    "q_txlog_vacuum" ->
      "30245dc88ad8a9f1b8ed2294c7bbeb50d8c391750dcc40ea308cc4693e0a578c",
    "q_union_by_name" ->
      "aa7c3aca591aecea09db9a5ecc584db8d3e64cdbde78a17e722daa834cfa8d77",
    "q_unpivot" ->
      "1e843bbb1785b871e0a0d435377a30a2f3825d3d8b8d0433e308094e151cf720",
    "q_variant" ->
      "c82d7f302b368e4e3114588a261b96a04719faab3701bfaad0b0fa2508a5760f",
    "q_window_distribution" ->
      "5021a2060c40068815207ab797ad8a2c01b0f10ff199fdd95f6b0608b3c100da",
    "q_window_lag" ->
      "d89a8a3cce9b780e6ff82a71a2821ab6def4b73b5e463a82d61d742853351261",
    "q_window_range" ->
      "5d0dd4ce5d6233eed8fdb50fa6afe8a0dba7cd5c5a0cd58f03549d6252c7333f",
    "q_window_rank" ->
      "0ceb9d4295ad9b078a54938f0b7272183df2a2f67e28199a38507271e448d089",
    "q_window_running" ->
      "51fed219212b60b912814edf783d79ad424dbf6833df049c41891aaa7062f008",
    "q_zorder" ->
      "3f3d86785fceb04031ce06b513f5d09a7434ed99e49c05503d1a7ca4ae1567ff",
    "rtf_extract" ->
      "84fa10d87cacdf880e569a1e4b485b269edf1a5f5533fb239bb145730d0260b9",
    "sample_exact_k" ->
      "fe01bfc80d422d63cc1bcef94d0c1cd4bb107163d8fac1f476777f5cb171b539",
    "sample_hash" ->
      "8ac5f887ee00c33cb10a1eeb48d50a3aac3ce9483515fcbd3d580fa6bd963a05",
    "sample_stratified" ->
      "e875833536244d8cf6d83ff1549e1459ca2e48bc394f31adb06d93584095266b",
    "sample_temperature" ->
      "c1cbb61301ad6a2a2be606d4f40ed666bdaa8d6c744c67c0951c0446ea0968d1",
    "sample_weighted" ->
      "b2da14b97d5ba19af418aadf35a62f7a23553398d0f2197b38cf529e66c6ed7b",
    "sim_hard_negatives" ->
      "d7684e118ee8be0c8ca2dc3aecd9c76a7ad120b0b62e3de57d8d845dbacd923a",
    "sim_ivf" ->
      "5c0e95e2c7aa3c777d6cd6adc6b5b7986585467dfe8d119df52320d45bd58d67",
    "sim_ivf_recall" ->
      "22b687e55e59a93177433f0b8632e9507295e53a199b86c3ac278399360bcef1",
    "sim_ivfpq_adc" ->
      "ad9926657e28f5c44ff3ff8fb0836fcda574339ca3e6abe025ea8dcbcb41de2a",
    "sim_ivfpq_codes" ->
      "a5a8df4deec6842d96b6b3c940de672db669763ac78edf8fc9749bc0f9b05571",
    "sim_ivfpq_recall" ->
      "c9e0c839ff1fc19e4d87699e1cc0c21247f5fd4177d38ed6ee676403ffdfcf6a",
    "sim_ivfpq_refine" ->
      "7aea8739628a90bbe1b963dcdd91e83c0cf16e590881af515c5b45492cbc17c6",
    "sim_knn_bucketed" ->
      "24bc1d5a2a11c47580ca348ec2bc658f2ca5d07398345848f278c6e22d360513",
    "sim_knn_indexed_update" ->
      "5be5ca4a6288ffa18f679b603755ea12d594749cfacf36b19c2003951b1e361f",
    "sim_knn_ivf" ->
      "24bc1d5a2a11c47580ca348ec2bc658f2ca5d07398345848f278c6e22d360513",
    "sim_knn_ivf2" ->
      "4a43a382e229d9da6692b3714fed57cb4b6447bda35b89aebcdcd919a64c7d84",
    "sim_knn_join" ->
      "e69519bf51b6cdae4f0d3c878f81a69230667bb1e3977490b942a2497709fc83",
    "sim_label_stats" ->
      "f19cc597ef45be40387b9794c2962355851b8a217411de2d7709b7403536f194",
    "sim_pq_adc" ->
      "f30c5c277ff0616deaba6f7f804e15a8af588154b702cd9b53624c2429a71016",
    "sim_pq_codes" ->
      "120dc9b40dcfa0f5311f11c885399df1c898b6a47902e5c9cdb251374493444a",
    "sim_pq_recall" ->
      "e4dbdeb2d151e64c433a2bf893b41b21ed1b3e4c48731149e03b3f4c4b89cb50",
    "sim_topk_brute" ->
      "7f1e14f7ec9c3a7c0fc9e27136d62c0ce1fb0c19baf9d8ca74259d8336e856f9",
    "stream_bloom_dedup" ->
      "4a60813999b4906a96057450349459272739437b32bec1b6e713ffeca072b3a0",
    "stream_cms_live" ->
      "68534014c736813189ba3ed8379c627d79d25351ae7ccf44faa6bd81580a061a",
    "stream_dedup_first" ->
      "1b5ae147c1def6e877cfc587d7470fcc2bfe160473389ba3141d2761048884bb",
    "stream_dedup_live" ->
      "1b5ae147c1def6e877cfc587d7470fcc2bfe160473389ba3141d2761048884bb",
    "stream_enriched_live" ->
      "cc7bc6c9d5575587e33ce3992f79922320567aa4525b721ceee552eeff39da1d",
    "stream_ewma_live" ->
      "9acf2966591106aa8a864d25491d85db753be2b10480c7c284e089984d4f535c",
    "stream_funnel_join" ->
      "435118f747ef78d8df74868be9f9fbd666908443be4a5d1406edb2c0f72806e8",
    "stream_funnel_live" ->
      "435118f747ef78d8df74868be9f9fbd666908443be4a5d1406edb2c0f72806e8",
    "stream_kmv_live" ->
      "a6a241daf5b3b35cd48cd1248bcfcba5e379471b7186359560c904583c9719a5",
    "stream_running_tws" ->
      "e80055f90a85510426d099e53c00810a7adf341b33f46d85a79fd441d88f7456",
    "stream_sessionized" ->
      "c4a68b27e7b58b73f2a88e4100bc619888d630693c8fefc9b2e1a1ee1061bb39",
    "stream_sessionized_live" ->
      "c4a68b27e7b58b73f2a88e4100bc619888d630693c8fefc9b2e1a1ee1061bb39",
    "stream_txlog_live" ->
      "bba58710415654b0adabf4a4b98c93f014f2b37e8ca833fe470dfd3e5e0cd4a0",
    "stream_windowed_counts" ->
      "2475437ec8776d6182e03ada3bce86acd7128a36b94029726354ba74979d09cd",
    "stream_windowed_live" ->
      "2475437ec8776d6182e03ada3bce86acd7128a36b94029726354ba74979d09cd",
    "stream_wordcount_live" ->
      "c1161b84eb13079c943ba97f7aae510c20178b9ddb1d6660f2db6f50d0ea1a42",
    "tar_ingest" ->
      "76a0e37a7311e0762e761ed8e79aafa8eae95745b43a17f76b858b2d1c55f1e0",
    "tex_extract" ->
      "6b4124ce5d80a9735e59536ba8516196178ba4c08c131324bebc330288a3c691",
    "text_bm25" ->
      "3e8eda05c3ba92130fa4d3d198e6c17ab18e0130748899b310e7239a8df1f6d3",
    "text_bm25_indexed" ->
      "3e8eda05c3ba92130fa4d3d198e6c17ab18e0130748899b310e7239a8df1f6d3",
    "text_boilerplate" ->
      "49a2ffbe6a10a9ba078c7fa399a9d4b02f3f4691fa0da614c1b6965de2db34ba",
    "text_bpe_bytes" ->
      "97f70e8e2dd92fd7f73365671ec5761904001a12fa4ae0f6309cb10b876f130a",
    "text_bpe_encode" ->
      "f45a81fe7ef66377afc20036377b16879cc7e7dd73bc499dd21aec00ba067524",
    "text_bpe_learn" ->
      "8c48f839f2296156887b8a0f5c5a7a8d51a185f58fcc50e591461caa0589beb8",
    "text_bpe_pairs" ->
      "3e76ebe5b0fe9ff11afc349c8c7c20488bc9c555ba6c053ba007fb4f1a5f66a0",
    "text_chunks" ->
      "4c784b093789214f98ba922893a34a2840ebbe3b72dd802dab8c7070bfb2a218",
    "text_corpus_stats" ->
      "0b8e91247fbdf41ff7f07a3b2733db63f7c6a639922ce32bbbb8151c9b3d6029",
    "text_dsir_select" ->
      "0390b3d99c7291ff80c1d8d4b398150708e2dab1e7569823ecff855a5cf3013e",
    "text_fingerprint" ->
      "802e939d5b65be28782c242ec3b011c991c122363a9168ebceeaaa6f9d1bafda",
    "text_html_extract" ->
      "3b887cc10a3187ad55a436857efed41897494a88727a1a939283bd85411d6302",
    "text_lang_id" ->
      "0e1ff51f33607ce773c3497bcd9bc84d753e5a9e0d8247be5822f94d39fff98c",
    "text_lang_profile" ->
      "4f0df63ab383318be628e2d6834ba0c4865beb9a4741c1b98f4a0bf9095cbe1a",
    "text_line_dedup" ->
      "d3009c8bb277edc03f482a9d1aa5a4f183c0f9d05726c8adb510aed6eb56876e",
    "text_lm_buckets" ->
      "bb57867033e1b801bcff8678e17984417311ed498869cdad0ce3a35bd670c87a",
    "text_lm_perplexity" ->
      "dc2acd69c7813f5d95bd0a3786ca2e2debbb9ab5009a999aca621f21162449cf",
    "text_nb_classify" ->
      "95c9cecb468f09164e75a16e3b1d87f8760b11f018faa07ca4f8637c6e56ad91",
    "text_nfc_dedup" ->
      "2840543a2ec25e7f779525ad95698610798a49992d0817a0818ad5cbecf929fb",
    "text_ngram_stats" ->
      "6c6aed280108c79c5f727e7e406ba43c66f7eb4d9ccb6022fb1437785fb5d8a3",
    "text_pii_scrub" ->
      "c702554981c38ed665f1f8d77a1cc6b25ca6fcc1c3459dd731fff1c267ac7cf8",
    "text_quality" ->
      "5e497838e7995e01ee012f123056ca428051dd22a0278a27a816fbd0fea87074",
    "text_quality_rules" ->
      "e83e95c3ec4c879fa64858af45fb8553469e0204c257a4a1756a97814ebfe455",
    "text_repetition" ->
      "09c2e481092c40649f0216e3c73ce024aecfe9db9e6aec8982db5be52dab07a2",
    "text_srt_cues" ->
      "94da4e6c504a2ff703e52ca1ae71b40598d35a8235dc279812825f822e88ad1b",
    "text_stopword_filter" ->
      "b7ec0757f6aa240adda40161b9a606bd457e05ad4ae92bdede060b8324ac2025",
    "text_tfidf" ->
      "2909115f771318c23e80274bf767f2b0ac190e3b533a62b5d43038a9973d9cf3",
    "text_token_count" ->
      "d44b2b467e5e2d560ff661e85538e7a33386b86e901c6c77910bb4f9d7c12d5c",
    "text_unigram_viterbi" ->
      "76c2fcb1c8f19bcdea15493a86195a0c74aebecd759c283266af54283af65ea5",
    "text_vocab_encode" ->
      "f5aa7c23412cf432748a1fb719a53c926af06791247df3a2850fcded8459e070",
    "text_wordpiece_encode" ->
      "327eca9391a4b8e47e499e0b883f873cec87b6a401f7936c98b5281ae51ea2c7",
    "text_wordpiece_learn" ->
      "f2b5851105edf22ed251b86f7a096c4c7017301e99a03bd354d40528b9102548",
    "tgz_ingest" ->
      "76a0e37a7311e0762e761ed8e79aafa8eae95745b43a17f76b858b2d1c55f1e0",
    "tokenize_quirk" ->
      "356fd95b0ccb862a750b69ee9ddad3a6bf0dc0f43cfbee5684eb49378413fcae",
    "warc_cdx_index" ->
      "23f0e172154b41f2712446a48362aec5d060f3799162091fb49f2545c4648561",
    "warc_charset_extract" ->
      "dddaac1a223046b5899f2e25c0e14e1d6e9af631f5237e26736320726c8e6abf",
    "warc_gz_ingest" ->
      "a6b88056116cf86f7176b5f0a4fc2c7b853118dbb85d43fd59a20fa04f51d6a0",
    "warc_http_extract" ->
      "461f544196c5062ed2cb9ba1018871498b88e11241eac6d6aa55dbf3024b14f2",
    "warc_ingest" ->
      "a6b88056116cf86f7176b5f0a4fc2c7b853118dbb85d43fd59a20fa04f51d6a0",
    "warc_ingest_live" ->
      "a6b88056116cf86f7176b5f0a4fc2c7b853118dbb85d43fd59a20fa04f51d6a0",
    "warc_zst_ingest" ->
      "a6b88056116cf86f7176b5f0a4fc2c7b853118dbb85d43fd59a20fa04f51d6a0",
    "warc_zstdict_ingest" ->
      "a6b88056116cf86f7176b5f0a4fc2c7b853118dbb85d43fd59a20fa04f51d6a0",
    "word_topk" ->
      "60232940fa02b095084f626f7e87dbb15475133778598af18bb64c9c0761b668",
    "wordcount" ->
      "c1161b84eb13079c943ba97f7aae510c20178b9ddb1d6660f2db6f50d0ea1a42",
    "xlsx_extract" ->
      "0986abe324641e7e467712c061da588e7db925059c10bd92e053c7b1b3677497",
    "xml_ingest" ->
      "c26b0e5eadca2b0ba8f282943e5869d31dfd43626be7bd5d87afb10210ff23be",
    "zip_ingest" ->
      "b740434bdfba73913853694709abcce288b6fafd0a7f68a82478dced3d50c8fd")
}
