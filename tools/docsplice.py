"""Shared helpers for the SCALING.md tools: marker-bounded section
splicing and the one byte formatter their tables use.

One splice function, one boundary rule, one guard — so the class of bug
that ate the `### pipeline_corpus_build decomposition` section in round 8
(VERDICT r8 "What's wrong #1": tools/state_scale.py stopped only at
`\\n## `, so a trailing ###-level section after its marker was silently
swallowed to EOF) is unwritable.  Every tool that writes a SCALING.md
section (scaling_curve, shuffle_telemetry, scale_stress, corpus_decompose,
state_scale) writes it through `splice_section`.

Rules:
- The marker must sit at the START of a line, outside any ``` / ~~~
  fenced block, and may occur at most once (a second line-start
  occurrence raises).  A marker merely quoted mid-line in prose is
  not a match.
- A section starts at its marker line (any heading level) and ends at
  the next line-start heading of ANY level in END_MARKS (`## ` through
  `###### `), again outside fences — or EOF if none follows.
- Everything outside the replaced span must be byte-identical after
  the splice.  The guard re-parses the new text with the same boundary
  rule and raises if the preserved head/tail drifted (e.g. the new
  body itself introduces a heading that shifts the boundary).
"""

from __future__ import annotations

from pathlib import Path

END_MARKS = ("## ", "### ", "#### ", "##### ", "###### ")

_FENCES = ("```", "~~~")


def _split(text: str, mark: str, end_marks: tuple[str, ...]):
    """Return (head, section, tail) for the section starting at `mark`,
    or None if no line outside a fence starts with `mark`.  The section
    spans from the marker line up to (excluding) the next line-start
    heading in `end_marks` outside a fence; `tail` therefore starts
    with a heading prefix or is empty (marker section runs to EOF).
    Raises RuntimeError if `mark` starts more than one line."""
    lines = text.splitlines(keepends=True)
    fenced = False
    start = None
    end = None
    for i, ln in enumerate(lines):
        if ln.startswith(_FENCES):
            fenced = not fenced
            continue
        if fenced:
            continue
        if ln.startswith(mark):
            if start is not None:
                raise RuntimeError(
                    f"marker {mark!r} starts more than one line; refusing"
                )
            start = i
            continue
        if start is not None and end is None and ln.startswith(end_marks):
            end = i
    if start is None:
        return None
    if end is None:
        end = len(lines)
    return "".join(lines[:start]), "".join(lines[start:end]), "".join(lines[end:])


def splice_section(
    path: Path | str,
    mark: str,
    body: str,
    end_marks: tuple[str, ...] = END_MARKS,
) -> None:
    """Replace (or append, if absent) the section starting at `mark`
    in the markdown file at `path` with `body`.

    `body` must start with `mark` (it IS the section, marker line
    included).  Raises ValueError if it doesn't, and RuntimeError if
    the splice would alter any byte outside the replaced section —
    including the case where `body` contains a heading from
    `end_marks`, which would silently shrink the section on the NEXT
    splice."""
    if not body.startswith(mark):
        raise ValueError(f"body must start with its marker {mark!r}")
    if not body.endswith("\n"):
        body += "\n"
    path = Path(path)
    text = path.read_text()
    parts = _split(text, mark, end_marks)
    if parts is None:
        head = text.rstrip() + "\n\n" if text.strip() else ""
        tail = ""
    else:
        head, _, tail = parts
    new = head + body + tail
    redo = _split(new, mark, end_marks)
    if redo is None or redo[0] != head or redo[2] != tail:
        raise RuntimeError(
            f"splice of {mark!r} would alter bytes outside its section "
            f"(does the body contain a {end_marks} heading?); refusing"
        )
    path.write_text(new)


def fmt_bytes(n: int) -> str:
    """``n`` bytes in binary units: ``973 B``, ``3.9 KiB``, ``1.2 GiB``."""
    for unit in ("B", "KiB", "MiB"):
        if n < 1024:
            return f"{n} B" if unit == "B" else f"{n:.1f} {unit}"
        n /= 1024
    return f"{n:.1f} GiB"
