"""Seeded inputs for the workloads.

Everything here is a pure function of the seed and the size: the same seed
gives byte-identical inputs (``digest``), and the program under test only
ever sees the generated rows.
"""

from __future__ import annotations

import hashlib
import json
import random
import re

from crrf_det_spark import pdfmini, synth

# skewed conversations carry SKEW_FACTOR x the median turn count
SKEW_FACTOR = 50
MEDIAN_TURNS = 8

# corpus sizes: "full" is what the benchmark measures, "tiny" keeps the
# benchmark's own tests fast.  The transcript corpus is whole
# conversations with one skewed conversation per 500, bench.py's ratio
# (max(2, n_convs // 500) of n_convs): ~9.6% of its turns sit in the
# skewed one.  The PDF and search inputs have no skewed conversation
# (extract_payload_turns salts every turn, and the index build does not
# group by conversation) and are cut to an exact turn count, so every
# seed asks for the same work.
SIZES = {
    "full": {"text_convs": 500, "skew_convs": 1, "pdf_turns": 400,
             "search_turns": 400},
    "tiny": {"text_convs": 40, "skew_convs": 0, "pdf_turns": 150,
             "search_turns": 50},
}

# share of PDF payloads rendered with the slower encodings
PDF_LZW_DIFF_SHARE = 0.10
PDF_CID_SHARE = 0.05

# one query of each form per cycle, in this order
QUERY_FORMS = ("term", "exclude", "phrase", "pinned")

_ALPHA = re.compile(r"^[a-z]+$")


def transcripts(seed: int, n_convs: int, skew_convs: int) -> tuple[list[dict], list[dict]]:
    """A synth corpus of ``n_convs`` whole conversations with the
    generator's natural class mix; the first ``skew_convs`` of them have
    SKEW_FACTOR x the median turn count."""
    return synth.generate(
        n_convs=n_convs, seed=seed, median_turns=MEDIAN_TURNS,
        skew_convs=skew_convs, skew_factor=SKEW_FACTOR,
    )


def first_turns(seed: int, n_turns: int) -> tuple[list[dict], list[dict]]:
    """The first ``n_turns`` turns of a corpus without skewed
    conversations, and their goldens."""
    # ~7.6 turns per conversation: n_turns // 4 conversations are plenty
    rows, goldens = transcripts(seed, n_turns // 4 + 2, 0)
    if len(rows) < n_turns:
        raise ValueError(f"seed {seed} generated {len(rows)} < {n_turns} turns")
    rows = rows[:n_turns]
    kept = {(r["conv_id"], r["turn_idx"]) for r in rows}
    return rows, [g for g in goldens if (g["conv_id"], g["turn_idx"]) in kept]


def skewed_share(rows: list[dict], skew_convs: int) -> float:
    """Share of the turns that sit in the skewed conversations."""
    lengths: dict[str, int] = {}
    for r in rows:
        lengths[r["conv_id"]] = lengths.get(r["conv_id"], 0) + 1
    return sum(list(lengths.values())[:skew_convs]) / len(rows)


def expected_texts(goldens: list[dict]) -> dict[tuple[str, int], str]:
    """Per-turn golden extracted_text: contents joined over cindex."""
    parts: dict[tuple[str, int], list] = {}
    for g in goldens:
        parts.setdefault((g["conv_id"], g["turn_idx"]), []).append(
            (g["cindex"], g["content"]))
    return {k: "\n".join(c for _i, c in sorted(v)) for k, v in parts.items()}


def is_html_turn(text: str) -> bool:
    return text.startswith("<!DOCTYPE html>")


def pdf_payloads(seed: int, n_payloads: int) -> tuple[list[dict], list[dict]]:
    """The first ``n_payloads`` non-HTML turns rendered as single-page
    PDFs: mostly Flate, a seeded minority LZW + /Differences and CID +
    ToUnicode + xref stream.  Returns (payload rows, goldens).
    ``eol_tail`` marks a payload holding a stream whose bytes end in CR
    or LF (see ``stream_has_eol_tail``)."""
    # ~12% of turns are HTML: 1.25x the turns leaves enough of the rest
    rows, goldens = first_turns(seed, n_payloads * 5 // 4 + 10)
    rng = random.Random(f"pdf-{seed}")
    out = []
    for r in rows:
        if is_html_turn(r["text"]):
            continue
        lines = r["text"].split("\n")
        u = rng.random()
        if u < PDF_LZW_DIFF_SHARE:
            kind, payload = "lzw_diff", pdfmini.make_pdf_diff(lines)
        elif u < PDF_LZW_DIFF_SHARE + PDF_CID_SHARE:
            kind, payload = "cid", pdfmini.make_pdf_cid(lines)
        else:
            kind, payload = "flate", pdfmini.make_pdf(lines)
        out.append({"conv_id": r["conv_id"], "turn_idx": r["turn_idx"],
                    "payload": payload, "kind": kind,
                    "eol_tail": stream_has_eol_tail(payload)})
        if len(out) == n_payloads:
            kept = {(p["conv_id"], p["turn_idx"]) for p in out}
            return out, [g for g in goldens if (g["conv_id"], g["turn_idx"]) in kept]
    raise ValueError(f"seed {seed} gave {len(out)} < {n_payloads} non-HTML turns")


_STREAM_LENGTH = re.compile(rb"/Length (\d+)")


def stream_has_eol_tail(payload: bytes) -> bool:
    """Whether any stream of the payload ends in a CR or LF byte, read
    from the bytes as written: ``/Length N``, then ``stream``, a newline
    and N bytes of data.  pdfmini strips trailing CR/LF before ``endstream``,
    so such a stream reaches its decoder one or more bytes short."""
    for m in _STREAM_LENGTH.finditer(payload):
        start = payload.find(b"stream\n", m.end())
        if start < 0:
            continue
        data = payload[start + 7:start + 7 + int(m.group(1))]
        if data.endswith((b"\r", b"\n")):
            return True
    return False


def segments(seed: int, n_turns: int) -> list[tuple]:
    """Segments table straight from the generator's by-construction
    goldens of ``n_turns`` turns: (conv_id, turn_idx, cindex, type,
    content)."""
    _rows, goldens = first_turns(seed, n_turns)
    return [(g["conv_id"], g["turn_idx"], g["cindex"], g["type"], g["content"])
            for g in goldens]


def queries(seed: int, segs: list[tuple], forms=QUERY_FORMS) -> list[str]:
    """Seeded boolean queries, one per form, drawn from adjacent words of
    real segments so most have hits: a bare term, ``term -term``, a quoted
    phrase, and a ``table:``/``text:`` pin on the segment's own field."""
    rng = random.Random(f"queries-{seed}")
    out: list[str] = []
    for form in forms:
        while True:
            _c, _t, _i, kind, content = segs[rng.randrange(len(segs))]
            toks = content.replace("\t", " ").split()
            pairs = [(a, b) for a, b in zip(toks, toks[1:])
                     if a != b and _ALPHA.match(a) and _ALPHA.match(b)]
            if pairs:
                break
        a, b = pairs[rng.randrange(len(pairs))]
        if form == "term":
            out.append(a)
        elif form == "exclude":
            out.append(f"{a} -{rng.choice([w for w in synth.WORDS if w != a])}")
        elif form == "phrase":
            out.append(f'"{a} {b}"')
        else:
            out.append(f"{kind}:{a}")
    return out


def filters(qs: list[str]) -> list[dict]:
    return [{"filter_name": f"f{i:03d}", "query": q, "labels": [f"label{i % 3}"]}
            for i, q in enumerate(qs)]


def digest(obj) -> str:
    """sha256 over a canonical encoding (bytes as hex)."""

    def enc(o):
        if isinstance(o, (bytes, bytearray)):
            return {"hex": bytes(o).hex()}
        if hasattr(o, "isoformat"):
            return o.isoformat()
        raise TypeError(type(o).__name__)

    blob = json.dumps(obj, default=enc, sort_keys=True, separators=(",", ":"))
    return hashlib.sha256(blob.encode()).hexdigest()
