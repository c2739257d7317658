"""Deterministic synthetic clips table per BASELINE.json `input_hint`:

    clip_id:string, bytes:binary, sr_hz:int32, dur_ms:int32,
    codec:string, transcript:string

Everything is a pure function of (seed, row index) so tests can
re-derive the exact expected PCM for any clip_id (the decoded-PCM
allclose / SNR>=30dB invariant) without storing goldens. No external
data; audio is seeded sine+noise encoded to WAV (stdlib) or raw
pcm_s16le, with a small share of corrupt blobs and invalid codecs to
exercise the decode-reject path (the content-type-whitelist analog,
/root/reference/http.go:21-28).

Transcript pools re-target the reference's deterministic test fixtures
(FIXTURES.md §3): zh/ja/ko/ru/latin paragraphs, licence boilerplate,
dynamic-render junk, PII-bearing strings, short/empty/very-long skew
cases.
"""

from __future__ import annotations

import io
import wave

import numpy as np

SEED = 42
SR_CHOICES = (8000, 16000, 22050, 44100, 48000)
CODEC_CHOICES = ("wav", "wav", "wav", "pcm_s16le", "flac")  # wav-heavy mix

# --- transcript pools (FIXTURES.md §3; seed paragraphs follow the
# reference's fixture languages: lang_test.go:15 French, :126 German,
# :120 short zh, spider_test.go:45 mixed zh/ja) ---
_ZH = (
    "今天的新闻内容非常丰富，记者在现场进行了详细的报道。专家表示，这一事件对当地经济发展具有重要意义，"
    "相关部门已经采取措施保障民众的生活质量。未来几天还将有更多后续报道，请大家持续关注本台新闻频道的最新消息。"
)
_JA = (
    "今日のニュースはとても面白かったです。東京では桜が満開になり、多くの人々が公園を訪れました。"
    "天気予報によると、明日も晴れるそうです。日本語のテキストを使ってテストをしています。ありがとうございます。"
)
_KO = (
    "오늘 서울에서는 많은 사람들이 공원을 방문했습니다 날씨가 좋아서 가족들과 함께 소풍을 즐겼습니다 "
    "내일도 맑은 날씨가 계속될 예정입니다 한국어 텍스트로 테스트를 진행하고 있습니다 감사합니다"
)
_EN = (
    "The quick brown fox jumps over the lazy dog while reporters gathered at the scene "
    "to cover the story in detail. Experts said the event carries significant meaning "
    "for the local economy and officials have taken measures to protect residents."
)
_FR = (
    "Le rapide renard brun saute par dessus le chien paresseux pendant que les journalistes "
    "se réunissaient sur place pour couvrir l'événement en détail. Les experts ont déclaré "
    "que cet événement revêt une signification très importante pour l'économie locale."
)
_DE = (
    "Der schnelle braune Fuchs springt über den faulen Hund während sich die Journalisten "
    "vor Ort versammelten um über die Geschichte ausführlich zu berichten. Experten sagten "
    "das Ereignis habe für die örtliche Wirtschaft eine große Bedeutung."
)
_RU = (
    "Быстрая коричневая лиса прыгает через ленивую собаку пока журналисты собирались на месте "
    "чтобы подробно осветить историю. Эксперты заявили что событие имеет большое значение "
    "для местной экономики и власти приняли меры для защиты жителей."
)
_LICENCE = "本网站持有信息服务许可证和出版服务许可证编号查询请访问官方网站备案系统查询相关信息具体编号如下所示"
_JUNK = "{a}{b}{c}{d}{e} template {f} render {g} fail {h} {\"k\":1} {\"j\":2}"
_PII = (
    "Contact us at support@example.com or call +1 555 123 4567 before 2023-05-12 14:30:00. "
    "网站备案号粤ICP备17055554号联系电话13812345678发布时间: 2022-09-02 11:40:53 详情见 "
    "https://example.com/download/file.exe 页面上的说明文字信息内容。"
)
_SHORT = "短文本。"
_TINY_EN = "ok then"
_MARKED = (
    "[music] The speaker began the talk with a short anecdote about the city "
    "<i>quietly</i> before moving to the main topic. [applause] The audience "
    "responded warmly and the discussion continued for another hour at least."
)

POOL: list[tuple[str, str]] = [
    # (transcript template, expected-ish lang) — weights via repetition
    (_EN, "en"), (_EN, "en"), (_EN, "en"),
    (_ZH, "zh"), (_ZH, "zh"),
    (_JA, "ja"), (_KO, "ko"), (_RU, "ru"),
    (_FR, "fr"), (_DE, "de"),
    (_LICENCE, "zh"), (_JUNK, None), (_PII, "zh"),
    (_SHORT, None), (_TINY_EN, None), ("", None), (_MARKED, "en"),
]


def _rng(i: int) -> np.random.Generator:
    return np.random.default_rng(SEED * 1_000_003 + i)


def clip_id_for(i: int) -> str:
    return f"clip-{i:012d}"


def expected_pcm(i: int, sr_hz: int, n_samples: int) -> np.ndarray:
    """The reference PCM for row i — pure function of (seed, i). Sine at
    a seeded frequency + low-level seeded noise, int16 range."""
    rng = _rng(i)
    freq = 110.0 + float(rng.integers(0, 880))
    t = np.arange(n_samples, dtype=np.float64) / sr_hz
    sig = 0.6 * np.sin(2 * np.pi * freq * t)
    noise = 0.001 * rng.standard_normal(n_samples)
    return np.clip(sig + noise, -1.0, 1.0)


def _wav_bytes(pcm: np.ndarray, sr_hz: int) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr_hz)
        w.writeframes((pcm * 32767.0).astype("<i2").tobytes())
    return buf.getvalue()


def make_row(i: int) -> tuple[str, bytes, int, int, str, str]:
    rng = _rng(i)
    sr = int(SR_CHOICES[int(rng.integers(0, len(SR_CHOICES)))])
    # log-normal duration, heavy tail up to ~10 min (skew cases,
    # FIXTURES.md §1 dur_ms)
    dur_ms = int(min(np.exp(rng.normal(7.3, 1.0)), 600_000.0))
    dur_ms = max(dur_ms, 200)
    n_samples = max(int(sr * dur_ms / 1000), 16)
    # cap generated sample count so datagen stays fast; dur_ms keeps the
    # skewed metadata value
    gen_samples = min(n_samples, 4 * sr)
    pcm = expected_pcm(i, sr, gen_samples)

    codec = CODEC_CHOICES[int(rng.integers(0, len(CODEC_CHOICES)))]
    if codec == "wav":
        blob = _wav_bytes(pcm, sr)
    elif codec == "pcm_s16le":
        blob = (pcm * 32767.0).astype("<i2").tobytes()
    else:  # flac: REAL bitstream (operators/flac.py verbatim encoder)
        from .operators.flac import encode_flac_s16

        blob = encode_flac_s16((pcm * 32767.0).astype("<i2"), sr)

    r = int(rng.integers(0, 100))
    if r < 2:
        blob = blob[: max(len(blob) // 3, 4)]  # truncated/corrupt
    elif r < 4:
        # invalid codec value (whitelist reject). 'speex' since round 8:
        # 'mp3' is now a whitelisted import-gated slot whose outcome
        # depends on installed libraries — the corpus must stay
        # environment-stable (same decision everywhere), so the
        # always-rejected label keeps the original intent.
        codec = "speex"

    tpl, _ = POOL[i % len(POOL)]
    transcript = tpl
    if r >= 96 and transcript:
        transcript = transcript * 40  # very long (skew)
    return (clip_id_for(i), blob, sr, dur_ms, codec, transcript)


def clips_schema():
    """The clips table's Spark schema (the module docstring's columns)."""
    from pyspark.sql.types import (
        BinaryType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    return StructType(
        [
            StructField("clip_id", StringType()),
            StructField("bytes", BinaryType()),
            StructField("sr_hz", IntegerType()),
            StructField("dur_ms", IntegerType()),
            StructField("codec", StringType()),
            StructField("transcript", StringType()),
        ]
    )


def generate_clips_df(spark, n_rows: int, num_partitions: int | None = None):
    """Distributed deterministic generation: spark.range -> mapInArrow
    building the same rows as make_row(i) (pure function of index, so
    the table is identical regardless of partitioning)."""
    from .session import map_rows

    parts = num_partitions or spark.sparkContext.defaultParallelism
    ids = spark.range(0, n_rows, numPartitions=parts)
    return map_rows(ids, lambda i: [make_row(i)], clips_schema())


# Binary-payload tables need SMALL parquet row groups: a reader buffers a
# whole row-group column chunk, so the default ~128MB groups make every
# concurrent scan thread hold >100MB live (32 threads -> multi-GB heap,
# GC collapse — measured: 2.3s scan at 8 threads vs 40s at 32). ~256
# audio rows ≈ 20MB keeps per-reader footprint bounded; Iceberg twin:
# write.parquet.row-group-size-bytes.
CLIPS_ROW_GROUP_SIZE = 256
CLIPS_PARQUET_BLOCK_BYTES = 16 * 1024 * 1024


def write_clips_with_spark(df, path: str) -> None:
    """Write a clips DataFrame with binary-appropriate row groups."""
    df.write.option("parquet.block.size", str(CLIPS_PARQUET_BLOCK_BYTES)).mode(
        "overwrite"
    ).parquet(path)


def write_clips_parquet(path: str, n_rows: int, start: int = 0) -> None:
    """Write the clips table as parquet (the Iceberg-fallback physical
    layout, io/catalog.py) with a fixed schema. `start` offsets the
    deterministic row index — rows [start, start+n_rows) — so a
    disjoint-id ingest increment for the incremental dedup path is one
    call (make_row is a pure function of the index)."""
    import pyarrow.parquet as pq

    from .session import arrow_table

    rows = [make_row(start + i) for i in range(n_rows)]
    pq.write_table(
        arrow_table(rows, clips_schema()), path, row_group_size=CLIPS_ROW_GROUP_SIZE
    )
