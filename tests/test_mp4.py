"""ISO-BMFF (MP4) header probe: encode→probe roundtrip, malformed-input
contract, and the Spark-side wiring (sniff_format / KIND_FORMATS /
decode_media header-only path)."""

import struct

import pytest

from evalidate_spark.functions import mp4, multimodal


class TestMp4Probe:
    def test_roundtrip_video_only(self):
        p = mp4.encode_mp4(320, 240, 1500, codec=b"avc1")
        assert mp4.is_mp4(p)
        info = mp4.probe_mp4(p)
        assert (info.width, info.height, info.duration_ms) == (320, 240, 1500)
        assert info.video_codec == "avc1"
        assert info.brand == "isom"
        assert info.n_tracks == 1 and info.has_video and not info.has_audio

    def test_roundtrip_with_audio_and_other_codec(self):
        p = mp4.encode_mp4(
            64, 48, 250, codec=b"hvc1", with_audio=True, mdat=b"\x01" * 64
        )
        info = mp4.probe_mp4(p)
        assert (info.width, info.height, info.duration_ms) == (64, 48, 250)
        assert info.video_codec == "hvc1"
        assert info.n_tracks == 2 and info.has_video and info.has_audio

    def test_deterministic_encode(self):
        assert mp4.encode_mp4(10, 20, 750) == mp4.encode_mp4(10, 20, 750)

    def test_mvhd_version1(self):
        # 64-bit duration variant of the movie header must parse too
        p = bytearray(mp4.encode_mp4(32, 16, 2000, timescale=1000))
        # locate mvhd and rewrite it as version 1 in place is fiddly;
        # instead build a synthetic moov with a v1 mvhd directly
        def box(cc, payload):
            return struct.pack(">I", 8 + len(payload)) + cc + payload

        mvhd_v1 = box(
            b"mvhd",
            bytes([1, 0, 0, 0])
            + struct.pack(">QQ", 0, 0)          # creation, modification (u64)
            + struct.pack(">I", 1000)            # timescale
            + struct.pack(">Q", 3500)            # duration (u64)
            + b"\x00" * 80,
        )
        data = box(b"ftyp", b"isom" + b"\x00" * 8) + box(b"moov", mvhd_v1)
        info = mp4.probe_mp4(bytes(data))
        assert info.duration_ms == 3500 and info.n_tracks == 0

    def test_largesize_box(self):
        # size==1 → 64-bit largesize header on the mdat must not break
        p = mp4.encode_mp4(8, 8, 100)
        payload = b"\xab" * 32
        large = (
            struct.pack(">I", 1)
            + b"mdat"
            + struct.pack(">Q", 16 + len(payload))
            + payload
        )
        info = mp4.probe_mp4(p + large)
        assert (info.width, info.height) == (8, 8)

    def test_malformed_raises_never_garbage(self):
        good = mp4.encode_mp4(16, 16, 400)
        for bad in (b"", b"\x00" * 24, good[:40], b"RIFF\x00\x00\x00\x00AVI "):
            with pytest.raises(ValueError):
                mp4.probe_mp4(bad)
        # a box whose declared size overruns the file is malformed, not a loop
        evil = good[:4] + good[4:]  # copy
        evil = struct.pack(">I", 2**31) + evil[4:]
        with pytest.raises(ValueError):
            mp4.probe_mp4(evil)

    def test_decode_media_header_path(self):
        p = mp4.encode_mp4(100, 50, 1250)
        out = multimodal.decode_media("video", p)
        # real header dims, decoded=False: the frames stay opaque
        assert (out["width"], out["height"], out["duration_ms"]) == (
            100, 50, 1250,
        )
        assert out["decoded"] is False
        # a payload whose kind mislabels it must NOT take the mp4 path
        img = multimodal.decode_media("image", p)
        assert img["decoded"] is False and img["width"] != 100


    def test_decode_media_truncated_box_falls_back_to_stub(self):
        # ftyp + a moov holding an empty mvhd: the probe fails on the
        # truncated box payload, and decode_media returns the stub row
        def box(cc, payload):
            return struct.pack(">I", 8 + len(payload)) + cc + payload

        p = box(b"ftyp", b"isom" + b"\x00" * 8) + box(b"moov", box(b"mvhd", b""))
        assert mp4.is_mp4(p)
        with pytest.raises((ValueError, IndexError, struct.error)):
            mp4.probe_mp4(p)
        out = multimodal.decode_media("video", p)
        assert out["decoded"] is False
        assert out["width"] is not None and out["duration_ms"] is not None

    def test_decode_media_probe_bug_propagates(self, monkeypatch):
        # only parse errors fall back to the stub; a bug in the probe
        # (here an AttributeError) must surface, not be swallowed
        def broken(_data):
            raise AttributeError("probe bug")

        monkeypatch.setattr(mp4, "probe_mp4", broken)
        with pytest.raises(AttributeError, match="probe bug"):
            multimodal.decode_media("video", mp4.encode_mp4(16, 16, 400))


class TestMp4Property:
    def test_roundtrip_property(self):
        """encode→probe is the identity on (dims, duration, codec,
        audio) across the whole parameter space, and truncating an
        encoded file at any box boundary raises rather than returning
        garbage."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=200, deadline=None)
        @given(
            w=st.integers(1, 8192),
            h=st.integers(1, 8192),
            dur=st.integers(0, 10**7),
            codec=st.sampled_from([b"avc1", b"hvc1", b"vp09", b"av01", b"mp4v"]),
            audio=st.booleans(),
            ts=st.sampled_from([600, 1000, 90000]),
        )
        def roundtrip(w, h, dur, codec, audio, ts):
            p = mp4.encode_mp4(
                w, h, dur, codec=codec, with_audio=audio, timescale=ts
            )
            info = mp4.probe_mp4(p)
            assert (info.width, info.height) == (w, h)
            # duration survives the timescale round-trip to ±1ms
            assert abs(info.duration_ms - dur) <= max(1, 1000 // ts)
            assert info.video_codec == codec.decode()
            assert info.has_audio == audio
            assert info.n_tracks == (2 if audio else 1)

        roundtrip()

    def test_truncation_raises_everywhere(self):
        p = mp4.encode_mp4(33, 17, 1234, with_audio=True)
        # cutting inside the moov must raise; cutting after it is legal
        # (mdat may stream) — find moov end
        moov_end = None
        for cc, s, e in mp4._walk(p, 0, len(p)):
            if cc == b"moov":
                moov_end = e
        for cut in range(12, moov_end, 97):
            try:
                info = mp4.probe_mp4(p[:cut])
                # parse may succeed only if the whole moov fit
                assert cut >= moov_end
                assert info.width == 33
            except ValueError:
                assert cut < moov_end


class TestMp4Spark:
    def test_sniff_and_format_check(self, spark):
        rows = [
            ("a", "video", bytearray(mp4.encode_mp4(8, 8, 100))),
            ("b", "image", bytearray(mp4.encode_mp4(8, 8, 100))),
            ("c", "video", bytearray(b"\x00" * 16)),
        ]
        df = spark.createDataFrame(
            rows, "media_ref string, media_kind string, payload binary"
        )
        got = {
            r["media_ref"]: (r["sniffed"], r["format_ok"])
            for r in multimodal.media_format_check(df).collect()
        }
        assert got["a"] == ("mp4", True)       # mp4 is a legal video container
        assert got["b"] == ("mp4", False)      # ...but not a legal image one
        assert got["c"] == ("unknown", False)

    def test_probe_containers(self, spark):
        rows = [
            ("mp4", "video", bytearray(mp4.encode_mp4(32, 16, 750, with_audio=True))),
            ("trunc", "video", bytearray(mp4.encode_mp4(32, 16, 750)[:40])),
            ("junk", "video", bytearray(b"\x00" * 32)),
            ("png", "image", bytearray(b"\x89PNG\r\n\x1a\n" + b"\x00" * 16)),
        ]
        df = spark.createDataFrame(
            rows, "media_ref string, media_kind string, payload binary"
        )
        got = {r["media_ref"]: r for r in multimodal.probe_containers(df).collect()}
        m = got["mp4"]
        assert (m["container"], m["codec"], m["n_tracks"], m["has_audio"]) == (
            "mp4", "avc1", 2, True,
        )
        assert (m["width"], m["height"], m["duration_ms"]) == (32, 16, 750)
        # truncated MP4 is a finding, not an exception
        assert got["trunc"]["container"] == "corrupt:mp4"
        assert got["trunc"]["codec"] is None
        assert got["junk"]["container"] == "unknown"
        assert got["png"]["container"] == "png" and got["png"]["codec"] is None

    def test_synth_media_mp4_rotation(self, spark):
        feats = multimodal.extract_features(
            multimodal.synth_media(spark, 36, mp4_videos=True)
        ).collect()
        vids = {int(r["media_ref"][2:]): r for r in feats if r["media_kind"] == "video"}
        assert vids, "generator must emit video rows"
        for i, r in vids.items():
            expect_mp4 = (i // 3) % 3 == 2
            assert r["width"] == 8 + i % 8
            assert r["height"] == 8 + (i // 3) % 8
            assert r["duration_ms"] == (2 + (i // 3) % 3) * 250
            assert r["decoded"] == (not expect_mp4)
