"""Count the lines of Python source that carry code.

A line counts when it holds a token that is neither a comment nor part
of a docstring (a string literal standing alone as a statement). Blank
lines, comments and docstrings are free, so the count moves only when
code is added or removed.

Usage:
    python tools/count_code_lines.py FILE [FILE ...]
"""

from __future__ import annotations

import io
import sys
import tokenize

_LAYOUT = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}
_STATEMENT_START = {None, tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT}


def code_lines(source: str) -> set[int]:
    """Numbers of the lines of ``source`` that carry code."""
    toks = list(tokenize.generate_tokens(io.StringIO(source).readline))
    lines: set[int] = set()
    prev = None  # type of the previous statement-relevant token
    for i, tok in enumerate(toks):
        if tok.type in _LAYOUT:
            if tok.type in (tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT):
                prev = tok.type
            continue
        if tok.type == tokenize.STRING and prev in _STATEMENT_START:
            j = i + 1
            while toks[j].type in (tokenize.COMMENT, tokenize.NL):
                j += 1
            if toks[j].type in (tokenize.NEWLINE, tokenize.ENDMARKER):
                prev = tokenize.STRING  # a docstring: free
                continue
        prev = tok.type
        lines.update(range(tok.start[0], tok.end[0] + 1))
    return lines


def main(paths: list[str]) -> None:
    total = 0
    for path in paths:
        with open(path) as f:
            n = len(code_lines(f.read()))
        total += n
        print(f"{n:6d} {path}")
    print(f"{total:6d} total")


if __name__ == "__main__":
    main(sys.argv[1:])
