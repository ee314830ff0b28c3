package graft

/** Every DuckDB oracle text, byte for byte: sha256 of each
  * `SparkEntry.oracleSql` entry, captured before the session-memo
  * refactor. A refactor of SparkEntry must leave all of them unchanged;
  * an intended oracle edit updates its line here in the same change.
  */
class OracleTextSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val pinned: Map[String, String] = Map(
    "q_agg_bbox" -> "2a7f4b8096201b76236041447a071a1e3e47b6d6ba518a40ce79dced752e4a90",
    "q_ann_brute" -> "551ca5962439b637b5cd40bf5c62f80eb07bf599e0f11577b0d9cfe987e9e226",
    "q_ann_ivf" -> "426cac442fe39e157a4840e80882131b786793af6d4e90de5b663502055cb0c4",
    "q_anti_join" -> "5134f4a172ec8c42d1969a024b7df04d2c607386109b4ce935fdec6a49516b02",
    "q_cell_covers" -> "c969241595bd385a054a41902170ed67ea7201ca13c7607ecb6312d8741125ec",
    "q_decimal_canary" -> "068c5f2417a07dcbc0b23d262319dd1203f014f525a1a6e01d980889749e59fd",
    "q_dedup_canonical" -> "8fa32d32d2820bedd0b19ade1c694511a27286e37be9b9d1b93ee14d0cae2f35",
    "q_dedup_clusters" -> "d45e857a7bdd6106ff9e601729786fa3bceeb3ff56e274e14b388b56eed0f5eb",
    "q_embed_pairs" -> "e9180584fb110ba74a0ab65d1c3a36f6daedb7078f03575ee31a7c551e6cf461",
    "q_embed_pairs_blocked" -> "888634ab4258d04004bad138540df59a11d1575da9d366c46fbb00a7e62ece5e",
    "q_exact_dedup" -> "cd77afa5f06f62d01df99645d5fb90eab1049a7acff985b650888be9b40ea241",
    "q_except" -> "3ca0a8c8f111c8c7f507d622b387ddb79afe9dc3808381bd0a06372aff74a028",
    "q_extract_text" -> "848e6ede8fbdb16783e667d08b4a473e28da1719935d9fdf7e49e85965a488e8",
    "q_fingerprints" -> "a9a3980efa3daf023fb4e8a6ddd50acbe135bf69e9566ff81ea18926199b1b14",
    "q_intersect" -> "e5b2787a95c2e0353ac0d9add4276d205f26814ea4122ad219c652f87490b7fb",
    "q_jaccard_pairs" -> "3f7443bdab11bce6c929b855419f18c0fd5b9c826ab961081d27506ce36f90fd",
    "q_knn" -> "bcc6de0f5937070f059e213e18af32c018a075c83b858ee7d5a7dd54ebe97309",
    "q_knn_batch" -> "bcc6de0f5937070f059e213e18af32c018a075c83b858ee7d5a7dd54ebe97309",
    "q_knn_pruned" -> "bcc6de0f5937070f059e213e18af32c018a075c83b858ee7d5a7dd54ebe97309",
    "q_lang_id" -> "e75440f9b0fa805e89cf599c42ac1b31039575194b7686ecb254f9e8c3ff32c1",
    "q_media_avi" -> "09202defaeb00784192b6d1c17dc0ef3b37844fe210ab7f16861d1179ff71ac1",
    "q_media_avi_frame" -> "42ee2289d640b6923adc13a81f982b517e1f78d38ae8ef0b81b8333eeedf25cc",
    "q_media_frames" -> "af1c2d07b09f577ad88360d7c2038e59e0c12c69d95f9f97389aa613a1034599",
    "q_media_jpeg" -> "8ae5b2da4cd0ffc0c6ee64dbd36b619db15dd06170d73381e4d6f2c39311db25",
    "q_media_meta" -> "544792a70d11017bdf0b456577a380087076270621e032e78b58a24e36c43b12",
    "q_media_png" -> "f3accdef634bbe26a77cc4b76ead3f6479982cee6d7e372638e9364ba3c2fc36",
    "q_media_ppm" -> "4bd4c80e15082d04ba0bfadad879466f42700fe0f1e2f15d8165f7b3630da899",
    "q_media_wav" -> "234f5977324a3637289428fb5a499cc01b3259725ca8ffed444b85909d8c2189",
    "q_merge_incremental" -> "c30ff795ec68b26b2bad733452d21aa62b03d82d08c57bb91bbce5811b41466f",
    "q_minhash_pairs" -> "7cbb44e2a7f436f9004ce10853dbe9d332bd0e127784c9505c4cadf430d6fe7c",
    "q_osc_apply" -> "8418a5fc1471885e84a34a381c20de4c43d3dcec0b5c81bbff21f7da22938928",
    "q_osc_nodes" -> "f8405ea10f1bd10bc1f3a30f56a08be8470ae9b01b6af9e77480c3b002ef5a26",
    "q_osc_rels" -> "a59d56abde5971d18f759e7b28951b406510d3f524c712b8db5a9093dd29cc0d",
    "q_outliers" -> "7379e7fe09d29f676543372fb986552c05b9e75fbd629d3f050254a4a0ddcf41",
    "q_pbf_nodes" -> "8e168d617459836edeff5345cf210969e9fcff50edd14387485f373b1b690d22",
    "q_pbf_polygons" -> "23c0a023d1f70199343de3ce465438ef7e4c254192afc4ed0e56a68b5d4474ab",
    "q_pbf_rels" -> "8ea4795f41fd3f3f29e02bbc2b2272b0218c46f2b38e97c88f2e768a821086d7",
    "q_pbf_tags" -> "9b1c2526b62790458c4a0f28470d395fa4eba07de3a4887ff2f4513ecbb7f091",
    "q_pbf_ways" -> "8d868bf0ea8e2196f8aa34c7121cd4ded3bf8311b6a294c8ca87723edc15c7f8",
    "q_pip_hybrid" -> "f79151e7b7645e8897e7b8f1758be2a7a0171397b925f3aa4faaa1b78e9855f7",
    "q_pip_missing" -> "f1bbf30b232e952b1852f8f6ef48a2203643700dec3400c1f1452c1759177a34",
    "q_pip_partitioned" -> "f79151e7b7645e8897e7b8f1758be2a7a0171397b925f3aa4faaa1b78e9855f7",
    "q_pip_per_layer" -> "41b3c9e858b4048da1bb67d9bf9868b19f779ac2f684c962a791d6b8d0dda0d3",
    "q_pip_rect" -> "b27ad9b392b80df2c128ae30d6f9adb82c9822f34e96d206fad505ee7f13f02e",
    "q_pip_rect_missing" -> "59f5ffb87cabde69506c07f47f5fe06e44e5cec9fefaa64aae5da0a7df2bdfbc",
    "q_pip_spatial" -> "f79151e7b7645e8897e7b8f1758be2a7a0171397b925f3aa4faaa1b78e9855f7",
    "q_pip_sql" -> "acd03098359523bf38ed276be5e3d20eb21814dc1d7074bfd8dffdb893623943",
    "q_polygons" -> "23c0a023d1f70199343de3ce465438ef7e4c254192afc4ed0e56a68b5d4474ab",
    "q_quality" -> "ba040dcdd9b8d06d2048fc6d9dccee402891570e0ff0b8d47a79f170c8974d85",
    "q_raster_cells" -> "ad87486acea7604c16d4b585ef2c8b99f1fcb35d0186a5a51d42d98875009521",
    "q_repetition" -> "bfc19a0275eb5cd6f165499cdfa2ee8b822a06fdc392c47962aa2a26716cb400",
    "q_rollup" -> "b6fe3c9237b67c79ba7b56b8643c19de2ffff4eecd9edb881c1051d829a965bd",
    "q_scalar_subquery" -> "db56e0ac48ec63e0e223b1d792874fc7859c557210041bc9bd8e72d084ec7307",
    "q_semi_join" -> "48072cc488c05e378a22906cdc5799c7f8117490195956bb577ba713a51a8fb0",
    "q_shp_decode" -> "674cf369baf7533955ca5c3ff325c60320ef5f2b7969bf50eae7a08b7d843e9b",
    "q_shp_water" -> "e10b468c99ec34986b3c35c07bb360a79c874a6ced721697b0be3e3c5e0ac7e2",
    "q_simhash_pairs" -> "5bd5677cee1318cfe8c2434cfa9f8299b500038ed446f3b68a0cbef307d5cd1f",
    "q_source_stats" -> "c0d4cb2a3edc8bff8ac0ff8d828df1069d781ade6e2c7d0ed2b7daac9e77dd5e",
    "q_stratified_sample" -> "8d0b8ec1e89a43af3d5d30d4fad154cc5e804b79b11aa654cfeeb5040c82a059",
    "q_stream_pip" -> "f79151e7b7645e8897e7b8f1758be2a7a0171397b925f3aa4faaa1b78e9855f7",
    "q_stream_window" -> "f90ed5308c85e09c68eacc41575c7048dba91f11fc264cf1444896cd1d3f078f",
    "q_suggestions" -> "b898fc55ecc5fd0fd4ef7b86f35abf106e9822bd3a3d48be05de61bfe4092caa",
    "q_tfidf_topk" -> "4dbc9bc1761a249cadb5e14a2b78b6c98fe89a1efbc91fcb2200cb11865d9025",
    "q_tile_counts" -> "959f681e8396f7086a743e107ba769ca46d0bd8282d6221afe9950a6c062072f",
    "q_token_counts" -> "1d8bf40539c9fa6b559b72824af1c5033ddd1e820f24eaa8ee774b9bbb73a231",
    "q_topk_centers" -> "388cd2db71d4e1261e75ea6f4594bbaa966aa23d52b12b71ce868e8a97d8ec47",
    "q_topo_arcs" -> "2d1c9aec4b0a72d216d61e1afc95b257858c1a4c122354462871f85358358043",
    "q_topo_arcs_dp" -> "fb101fb1a5cad2cd4ed39ee5ff9d0dfc695e34d6c446f976a4f96891455d98a3",
    "q_topo_arcs_raw" -> "de33c73a574b7559ac4dcc800e2d2819d7424bf750f10bf8bf9257297dd35cba",
    "q_topo_arcs_raw_q" -> "ace256339d681770db03a4535895928999801229c60f0cb22e766e2c4b4fbd44",
    "q_topo_clip_member" -> "e49622604ffaffa4be00893f1aeb93c2cfd3471ae86ac18260e3c8066655a425",
    "q_topo_clip_rect" -> "a2d6c471b5d9793d8ffdb19f650e5a7d0b3093e3e37b46810c3ebf9b4168a49b",
    "q_topo_objects" -> "4cfcae4865d881cdacb3d0359fa139b921c6969d5375d34f7021edc9a412b76b",
    "q_topo_slices" -> "d8e43b46f9144c440c80d5f224c95a09993bdcd243680a8f68745c4e60286352",
    "q_union_dedup" -> "060a5ff7836848896aa02c9817a0867c8733aa895cd3c2fc4c058c05fa7f4b12",
    "q_water" -> "e10b468c99ec34986b3c35c07bb360a79c874a6ced721697b0be3e3c5e0ac7e2",
    "q_window_delta" -> "1e1bfe45ea2d44ed72f0a5a60d3822c69a961029f687dc4b4f678868d481cbd3"
  )

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  test("every oracle text matches its pinned sha256") {
    val got = SparkEntry.oracleSql.map { case (q, sql) => q -> sha256(sql) }
    assert(got.keySet == pinned.keySet)
    val changed = pinned.keys.filter(q => got(q) != pinned(q)).toSeq.sorted
    assert(changed.isEmpty, s"oracle text changed: ${changed.mkString(", ")}")
  }

  test("every query has a pinned oracle text") {
    assert(SparkEntry.queries.keySet == pinned.keySet)
  }
}
