"""SRT/WebVTT parsing: hand-written fixtures, grammar edges, markup
stripping, error contract, and the operator seam."""

from __future__ import annotations

import pytest

from ohsome_planet_spark.functions.subtitles import (
    SubtitleFormatError,
    parse_srt,
    parse_subtitles,
    parse_vtt,
    strip_markup,
)

SRT = (
    "﻿1\r\n"
    "00:00:01,000 --> 00:00:03,500\r\n"
    "Hello <b>world</b>\r\n"
    "\r\n"
    "2\r\n"
    "00:00:04,000 --> 00:01:00,250\r\n"
    "Two lines\r\n"
    "of text &amp; entities\r\n"
)

VTT = (
    "WEBVTT - with a header remark\n"
    "\n"
    "NOTE this block is skipped\n"
    "entirely\n"
    "\n"
    "STYLE\n"
    "::cue { color: red }\n"
    "\n"
    "intro-cue\n"
    "00:01.000 --> 00:03.000 align:start position:10%\n"
    "<c.yellow>No hours</c> field here\n"
    "\n"
    "01:00:00.000 --> 01:00:05.000\n"
    "Karaoke <00:00:01.500>timed <00:00:02.000>words\n"
)


def test_srt_grammar():
    cues = parse_srt(SRT)
    assert [(c["start_ms"], c["end_ms"]) for c in cues] == [
        (1000, 3500), (4000, 60250)]
    assert cues[0]["text"] == "Hello world"
    assert cues[1]["text"] == "Two lines\nof text & entities"


def test_vtt_grammar():
    cues = parse_vtt(VTT)
    assert [(c["start_ms"], c["end_ms"]) for c in cues] == [
        (1000, 3000), (3600000, 3605000)]
    assert cues[0]["text"] == "No hours field here"
    assert cues[0]["settings"] == "align:start position:10%"
    assert cues[1]["text"] == "Karaoke timed words"


def test_magic_sniff():
    fmt, cues = parse_subtitles(SRT.encode())
    assert fmt == "srt" and len(cues) == 2
    fmt, cues = parse_subtitles(VTT.encode())
    assert fmt == "vtt" and len(cues) == 2


def test_strip_markup():
    assert strip_markup("<v Roger>hi</v> &lt;x&gt; &nbsp;") == "hi <x>  "


def test_error_contract():
    with pytest.raises(SubtitleFormatError, match="timing"):
        parse_srt("1\nnot a timing line\ntext\n")
    with pytest.raises(SubtitleFormatError, match="signature"):
        parse_vtt("1\n00:00:01.000 --> 00:00:02.000\nx\n")
    with pytest.raises(SubtitleFormatError, match="before"):
        parse_srt("1\n00:00:05,000 --> 00:00:01,000\nx\n")
    with pytest.raises(SubtitleFormatError, match="range"):
        parse_srt("1\n00:99:00,000 --> 01:00:00,000\nx\n")
