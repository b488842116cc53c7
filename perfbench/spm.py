"""Unigram SentencePiece segmentation for the oracle, read straight from
the model file the engine ships.

The oracle must not import engine code, yet its token stream has to be
the one the engine indexes. This module reads the `.model` protobuf
(ModelProto.pieces: field 1 of each piece is the string, field 2 the
float32 log-prob, field 3 the type) and segments each lower-cased,
whitespace-split word into its maximum log-prob piece sequence. Ties go
to the longer final piece; a position no piece starts from becomes a
single character at log-prob -100, which keeps the lattice connected
for out-of-vocabulary text.
"""

from __future__ import annotations

import struct

MARKER = "▁"
_UNK_LOGPROB = -100.0
_UNKNOWN, _CONTROL = 2, 3


def _varint(buf: bytes, i: int) -> tuple[int, int]:
    shift = value = 0
    while True:
        byte = buf[i]
        i += 1
        value |= (byte & 0x7F) << shift
        if byte < 0x80:
            return value, i
        shift += 7


def _fields(buf: bytes):
    """Yield (field number, value) for one protobuf message; value is
    bytes for length-delimited fields, an int or 4/8 raw bytes otherwise."""
    i = 0
    while i < len(buf):
        key, i = _varint(buf, i)
        field, wire = key >> 3, key & 7
        if wire == 0:
            value, i = _varint(buf, i)
        elif wire == 1:
            value, i = buf[i:i + 8], i + 8
        elif wire == 2:
            size, i = _varint(buf, i)
            value, i = buf[i:i + size], i + size
        elif wire == 5:
            value, i = buf[i:i + 4], i + 4
        else:
            raise ValueError(f"unsupported protobuf wire type {wire}")
        yield field, value


def load_pieces(model_path: str) -> dict[str, float]:
    """piece -> log-prob for every normal piece; the first duplicate wins."""
    with open(model_path, "rb") as fh:
        data = fh.read()
    out: dict[str, float] = {}
    for field, msg in _fields(data):
        if field != 1:
            continue
        piece, score, kind = None, 0.0, 1
        for f2, v in _fields(msg):
            if f2 == 1:
                piece = v.decode("utf-8")
            elif f2 == 2:
                score = struct.unpack("<f", v)[0]
            elif f2 == 3:
                kind = v
        if piece is not None and kind not in (_UNKNOWN, _CONTROL):
            out.setdefault(piece, score)
    return out


class Segmenter:
    def __init__(self, model_path: str):
        self.logprob = load_pieces(model_path)
        self.max_len = max(len(p) for p in self.logprob)
        self._cache: dict[str, list[str]] = {}

    def pieces(self, text: str) -> list[str]:
        out: list[str] = []
        for word in text.lower().split():
            seg = self._cache.get(word)
            if seg is None:
                seg = self._cache[word] = self._best(MARKER + word)
            out.extend(seg)
        return out

    def _best(self, s: str) -> list[str]:
        n = len(s)
        score = [float("-inf")] * (n + 1)
        width = [0] * (n + 1)
        score[0] = 0.0
        for i in range(n):
            if score[i] == float("-inf"):
                continue
            matched = False
            for ln in range(1, min(self.max_len, n - i) + 1):
                lp = self.logprob.get(s[i:i + ln])
                if lp is None:
                    continue
                matched = True
                cand, j = score[i] + lp, i + ln
                if cand > score[j] or (cand == score[j] and ln > width[j]):
                    score[j], width[j] = cand, ln
            if not matched or score[i + 1] == float("-inf"):
                cand = score[i] + _UNK_LOGPROB
                if cand > score[i + 1]:
                    score[i + 1], width[i + 1] = cand, 1
        out: list[str] = []
        j = n
        while j > 0:
            out.append(s[j - width[j]:j])
            j -= width[j]
        return out[::-1]
