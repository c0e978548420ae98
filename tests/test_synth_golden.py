"""Byte goldens for every media builder in ``multimodal/synth.py`` and
every container builder in ``ingest/``.

Each ``make_X_bytes(doc_id)`` is the encoder half of a codec check: the
decoders and the oracle SQL restate its closed forms, so a refactor of a
builder must not change a single output byte. This test pins one sha256
per builder over ``doc_id`` 0-255 (each output is length-prefixed before
hashing, so a byte moving between docs changes the digest too). The
ingest builders that take the document text get each ``doc_id`` with
three fixed strings (ASCII, empty, non-ASCII), and the zstd dictionaries
are pinned over every id ``zstd_dict_ids`` can return. It needs no Spark
session.

To re-pin after an intended format change, recompute with ``_digest`` and
say in the change record why the bytes moved.
"""

from __future__ import annotations

import hashlib

import pytest

from open_source_etl_spark.ingest import archives, avro, lz4, pdf, tfrecord, warc, zstd
from open_source_etl_spark.multimodal import synth

DOC_IDS = range(256)
TEXTS = (
    "The quick brown fox jumps over the lazy dog, 0123456789 times.",
    "",
    "naïve café — 東京の夜 ✓ Ωμέγα 🙂 …",
)
DOC_ARGS = [(d,) for d in DOC_IDS]
TEXT_ARGS = [(d, t) for d in DOC_IDS for t in TEXTS]
DICT_ARGS = [(i,) for i in sorted({i for d in DOC_IDS for i in zstd.zstd_dict_ids(d)})]
EXAMPLE_ARGS = [(t, [d * 100, d]) for d in DOC_IDS for t in TEXTS]

GOLDEN = {
    "make_aac_adts_bytes": "a6bb638b36a32580b1a47fd8f591ec320f5546817e9279ad6b5a0f5787e8ead8",
    "make_avi_av_bytes": "2da5c372377b73efd4cb0baa70911ee38525d0fd2ad4304ce79a5c40baa0dd8d",
    "make_avi_bytes": "976836549c11078c9d2ac11e709a0fd899c365571524b606bfb40a9249bf1f65",
    "make_bmp_bytes": "f4479ffe5ed1003185ef2c0b4f93fb3637a573d22092c6f3d314fda93d2a2561",
    "make_bmp_rle4_bytes": "27d5bafa418b05c47762f034106872069372c19d6a571f3a5370589d68877875",
    "make_bmp_rle8_bytes": "38c633adc85ca5f36ad067adc57758023649fa76b94185e3ad1725e354cfe0d0",
    "make_flac_bytes": "0535fa6528fa15ced5a0d2b7b4b6aafd97e00acf0d5619845331b1f7493a4c58",
    "make_flac_stereo_bytes": "de763b154e24349ed3ede4dab1dd2fb26e253baac836a464ad974bce5ab49d68",
    "make_flac_vbs_bytes": "420dba55797ef6961fd501a81868f196547dc129383551275effe7435982c9cf",
    "make_gif_anim_bytes": "9db2771696d2b71fdd3cef1c941a5f03200c2f4cb38f4ba09e78b31fa0ecf579",
    "make_gif_bytes": "cc8c3fc8fd5520377664acec4b482dd557065bf89fc7918d9af7a3b6e22882b1",
    "make_gif_disposal_bytes": "4b8c8e971e5bc39995cc3c487917645ca56bf1430d20dde7c9fd15974f286677",
    "make_gif_interlaced_bytes": "239205e0f9f86585642239c0777607621c49c7f499e5a6786bd6ce7a8bac363d",
    "make_gif_lct_bytes": "2063ab6952bd2966a05b0a362ed6916619f7b9a83e350705eb8942c98d2dfbcd",
    "make_h264_bframe_bytes": "74850cf49c6071d15068df2266c8710db572e93b3d806ba19c08bdefbd9aebc8",
    "make_h264_bpixel_bytes": "99fc2bd627aa1d99a2d911e1289215067bcc449e516d34e6da5ddea34e78886d",
    "make_h264_bytes": "540aed3df73054590082a820673cbd7cb027640e15b89c672dee98e5db330867",
    "make_h264_cavlc_bytes": "d0bb9d5378472c72e1dbf3338244dfcbba6583d50d0ba3e60013b1ca6614f609",
    "make_h264_chroma_bytes": "89c16f4b1d01fe156e96a8b6c7717d5bbfe22320c7dda32c9e4e086aea2be890",
    "make_h264_dpixel_bytes": "7e268f11ca83e4897e1875b4590820fe7cf7232e33dceea329648f3ac3b8473a",
    "make_h264_fracpel_bytes": "bd6d124d0e8b3c8d18d1510786ff95447d889cc10f2bd6f79a4c9cb0a97a830e",
    "make_h264_gop_bytes": "f31d91c12d8ddab2d3843fd171ae3064030f91f78e02d349fb5c9bd0c0f636e6",
    "make_h264_inter_bytes": "7a764dd81a20c63e6d3da028bb6ca0480bedfa37b5076ceabff1c12e49c65238",
    "make_h264_ipcm_bytes": "21d85ef495d7626b3634732e04d4048f1bfaad3f7d6dae93aa9c43f2e1d763d7",
    "make_h264_multiref_bytes": "bd391010e1636ff8a6f6d4e18a202632777f4c3a9d296fcd11001267086a9e8f",
    "make_h264_p8x8_bytes": "025d3f57fc60ee01154eab3511b411181996cb7cdb48ae134aa29367248ccf8a",
    "make_h264_submb_bytes": "27505403ddf64c6b5688081aae4593ae51f2538cc4d8db88d5e6269e8eb33ba4",
    "make_h264_tdirect_bytes": "a4980665f02217ee42dcd174ce1a0bf75ca2994b988b41e1386ddf105eb25905",
    "make_h264_weighted_bytes": "e35076e31bd7a6bab28185b29bf56205d4e911dec6506c8d392bb00760b7a80a",
    "make_h264_wpixel_bytes": "049795bb49056f24336b26a34b1ed85e7fe4140c1a5ce894e81dcf58dd87bacf",
    "make_heif_bytes": "e8830822e3f7160b765fed10ab11ff5e775af1fb6fc5cb4bdff2bf7298dc3e4e",
    "make_jpeg_bytes": "59498ceec5aab817d535ded7b9b44500b6d3064cdbcffaba9f63aa9ce776b942",
    "make_jpeg_cdri_bytes": "bd36f0732912e473da3a24deda6fdcb01afe2f344e578759210c6cdb8eb306a9",
    "make_jpeg_color_bytes": "4d33393c29e35f88fcb3344194dd8c73cd6070fed08f4ae16320db034df25fda",
    "make_jpeg_exif_bytes": "db8b4b1f7af614e1e857b9b9678021db0f2daf3e366a4759e2e837c2a124b5ef",
    "make_jpeg_prog_bytes": "747e6bb803b4fafb515d88e2c9ce1dc734823adcca212e4db77db9ed8ea93c84",
    "make_jpeg_prog_rst_bytes": "fc06edbb1ac447e657a492b11cca52dad23d190d8b97ac70263bfad5eac1e777",
    "make_mp3_b8_bytes": "df5d5ed686c60a32da5abd6151de4dabfd593eca794232e1c7714349fb9c9b42",
    "make_mp3_bytes": "fc89ddc11a8a3bbb43bbcee171bf70dfc25084f9302aa30581dbc4558832a2d4",
    "make_mp3_ht_bytes": "01050666856ae102e2138bcaff30ee51d67208f11b4128c39ead54cbfc5d6403",
    "make_mp3_id3_bytes": "ee4362e34648387d95592ea8ac0708c20bf073730782d9d1ea587af6d6cbedc5",
    "make_mp3_id3v1_bytes": "f516d0ed01d2931467d17e0b3eec0cff3187564bf5448b1a99a0f3bb1500d66d",
    "make_mp3_imdct_bytes": "ee87f1c9eb59b5b684843fd838413b4d0af643678157f5a8712bb4ed204f9e71",
    "make_mp3_is_bytes": "21fd286cfee122a1ac3cc310442e1ad75742e754455cf0faf7ca8ecaa23350e7",
    "make_mp3_lb_bytes": "46ca45f7a9f7f58b7193c2eab2d7d834b7c317070a236be1b97a0478f9da4269",
    "make_mp3_md_bytes": "e0f64c53faf173586988817b5d16102e635ba465a1da9b6d30f8520d102ceab9",
    "make_mp3_ms_bytes": "f21a1c7bbe97f469fa2d622941e7bf855f318ecd7015e1625e2bb476d77f3d6f",
    "make_mp3_mx_bytes": "c3f93b2d0bf81886d3e098d00a6a6ee5df808c0ac1bc7d4c316117b6f25a91f3",
    "make_mp3_rq_bytes": "4fef8ca76de492f3ebd28930269b228ea15753b972c780b072dedcd97a65f217",
    "make_mp3_rqe_bytes": "d056d0d099e619f4d87fc57ad8989116c74fd44ea2cfdfc9db77dc1b0c5ecbec",
    "make_mp3_rqs_bytes": "73f2c5e0383e80f15b146c4c7c133c55c38e435fb7751374991dfb31f3de76e4",
    "make_mp3_rqw_bytes": "0d89076095632d29db1986f662fc22bbc43cbf31fec1e3564b79ab15c6ca8fc3",
    "make_mp3_sb_bytes": "849ee4bc23bb40390d3264552ff8c54505ae09d19466108d9d97c17a7e2f764a",
    "make_mp3_ws_bytes": "a097455b13d28519fedc3197de4c1fb6851aa597065a8e6d4628b05a325942c8",
    "make_mp4_bytes": "10f01b7328a39737d29d713d8ec6a4fede1f7d531c6db9f16ec188a33e930959",
    "make_ogg_opus_bytes": "dba3c62f3f2dea1796823bda5cc2dfc0056c7b8fc1652b7cbfeb00ae90edc42b",
    "make_png_adam7_bytes": "dc0a31e11130fa170ba90ef247d822760e1024ab0b8a901d8520d587f71f5c64",
    "make_png_bytes": "c1177be43fab2fd214b576c700ce7738b60d7857d9c7ea595058f07c58722ac4",
    "make_png_ct_bytes": "05947f6ea1bc0d8d54d9fb6d605efbafacde06948f94ff7dbe62c1f61784b9a3",
    "make_png_palette_bytes": "5a05db726b65cc28261625442faf33aa638e999975578338533bf7410cb891a8",
    "make_tiff_bytes": "082757907ceef08296ffdfe129ba8c2068e808d6fa2e364bf3030acfe3ee835f",
    "make_wav_bytes": "8f366d0c723124c24bde834e75763eff08894670449b0f346d22d1a9f0268829",
    "make_wav_ext_bytes": "36c26a2285f002b4dc1eda1f7e90da7dca60e16b14dca5af562d059e5f85b39f",
    "make_wav_g711_bytes": "10e817473156833d7865c527f96ae20951e88ddd75bec51f6a1b98105d333d0a",
    "make_webm_bytes": "bdf1d9c940c15fd1f6fc44594472b53aef45ff06bfea2b988d318770cab6e7c8",
    "make_webp_vp8l_bytes": "c73f5691dccabc1a0368574063e9d0fb229c5aaeeb6d6fa1aa2d50da649c0e03",
    "make_webp_vp8l_transform_bytes": "863179efc9bbaaec9962882c299cf027efa9571c234a986f0fbafba4597c4005",
}

INGEST_MODULES = (archives, avro, lz4, pdf, tfrecord, warc, zstd)

# name: (builder, inputs, sha256)
INGEST_GOLDEN = {
    "make_avro_bytes": (avro.make_avro_bytes, TEXT_ARGS, "f12e4257dcafb40382422fd0f5fca20738a20f61763bcbe43cea053e3831271f"),
    "make_avro_v1_bytes": (avro.make_avro_v1_bytes, TEXT_ARGS, "82c112d387171b58e04a1317fae405dfca68fa9bb721bd1ae5c45af22e73ca73"),
    "make_example_bytes": (tfrecord.make_example_bytes, EXAMPLE_ARGS, "c01de3d10fd090c24f8b5faec77d454a381bd5524b2f1a39444036f106af5bc1"),
    "make_gzip_jsonl_bytes": (archives.make_gzip_jsonl_bytes, TEXT_ARGS, "aa8c5016c30ef33b9eab5b1e299ad2e51423a09f125859dd0d12daee34f60478"),
    "make_lz4_bytes": (lz4.make_lz4_bytes, DOC_ARGS, "3f13645bc70453e2386a504c1baeb2d2ff8d24dfe10f9e354684e3aac1c01cce"),
    "make_pdf_bytes": (pdf.make_pdf_bytes, TEXT_ARGS, "14c1d15ad550c9b1a5cc00fc3d7dc8e9b7896d275c0f69532c4f2d4508d43175"),
    "make_subtitle_bytes": (pdf.make_subtitle_bytes, TEXT_ARGS, "99f2275533a13c1a262441d910ecfa71f8269343f2e76f8f99dc378d621767da"),
    "make_tar_bytes": (archives.make_tar_bytes, TEXT_ARGS, "ca4e795e150523053c7c214b09304ae63a63c98e07d3ef2d12565360bd41d84a"),
    "make_tfrecord_bytes": (tfrecord.make_tfrecord_bytes, TEXT_ARGS, "b419e0e6df0a9f4b905cc29e912e8e5b54d03611aa6cae230639c4aa5d19c908"),
    "make_warc_bytes": (warc.make_warc_bytes, TEXT_ARGS, "6b2909fdf6c356b38138a170be906840489b92a137199a3190f7d839109a9c1e"),
    "make_zip_bytes": (archives.make_zip_bytes, TEXT_ARGS, "7b4429daf5884871ef5c996a6b78e03636df29cca0a13b77c37606489cf8aa30"),
    "make_zstd_bytes": (zstd.make_zstd_bytes, DOC_ARGS, "6d15c3bd785930bde161ad2eaace95f23c3c00d7cf0a11b804beaf7ca870d499"),
    "make_zstd_dict_bytes": (zstd.make_zstd_dict_bytes, DOC_ARGS, "8ebeb7b99db915e096d1fff656aaad47ab80f77ce056aef812688aa0fa1daf90"),
    "make_zstd_dictionary": (zstd.make_zstd_dictionary, DICT_ARGS, "374996fef738a09824d2967a37668cc6b8403fadc574f436067583114010a91b"),
}


def _digest(make, inputs=DOC_ARGS) -> str:
    h = hashlib.sha256()
    for args in inputs:
        raw = make(*args)
        h.update(len(raw).to_bytes(4, "big"))
        h.update(raw)
    return h.hexdigest()


def test_golden_covers_every_builder():
    names = {n for n in dir(synth) if n.startswith("make_") and n.endswith("_bytes")}
    assert names == set(GOLDEN)


@pytest.mark.parametrize("name", sorted(GOLDEN))
def test_synth_bytes_golden(name):
    assert _digest(getattr(synth, name)) == GOLDEN[name]


def test_golden_covers_every_ingest_builder():
    names = {
        n for m in INGEST_MODULES for n, v in vars(m).items()
        if n.startswith("make_") and callable(v)
    }
    assert names == set(INGEST_GOLDEN)


@pytest.mark.parametrize("name", sorted(INGEST_GOLDEN))
def test_ingest_bytes_golden(name):
    make, inputs, want = INGEST_GOLDEN[name]
    assert _digest(make, inputs) == want
