"""Tokenizer for the uDLang kernel language.

Token surface matches the reference grammar's terminals
(reference src/grammar.lalrpop:534-556): `//` and `/* */` comments, shebang,
double-quoted strings with escapes, lowercase identifiers vs. capitalized
type names, and the multi-char operators `.?.` `...` `->` `<=` `>=` `==`.

One deliberate deviation: the reference lexes `-?[0-9]+` (sign attached to
the literal), which makes `a - 2` unparseable under longest-match; we lex
unsigned numbers and let unary minus handle negation.
"""

from __future__ import annotations

import re
from dataclasses import dataclass


class LexError(ValueError):
    pass


@dataclass(frozen=True)
class Token:
    kind: str  # ID TYPENAME INT FLOAT STR punctuation/keyword literal
    value: str
    pos: int
    line: int


KEYWORDS = {
    "version", "script", "lib", "input", "output", "let", "func", "proc",
    "type", "if", "elif", "else", "for", "in", "out", "suppose", "done",
    "and", "or", "xor", "not", "true", "false", "import", "export", "as",
    "template", "using", "self", "field", "static", "const", "method",
    "match", "case", "throw", "attempt", "recover",
}

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<comment>//[^\n]*|/\*(?:[^*]|\*(?!/))*\*/)
  | (?P<version>0\.1-pre_mvp)
  | (?P<float>[0-9]+\.[0-9]+)
  | (?P<int>[0-9]+)
  | (?P<str>"(?:[^\\"]|\\.)*")
  | (?P<id>[a-z_][A-Za-z0-9_]*)
  | (?P<typename>[A-Z][A-Za-z0-9_]*)
  | (?P<punct>\.\?\.|\.\.\.|->|=>|<=|>=|==|!=|[()\[\]{}<>,;:=+\-*/^%.|?$!])
    """,
    re.VERBOSE,
)

_ESCAPES = {"n": "\n", "t": "\t", "r": "\r", '"': '"', "\\": "\\", "0": "\0"}


def unescape(body: str) -> str:
    out: list[str] = []
    i = 0
    while i < len(body):
        c = body[i]
        if c == "\\" and i + 1 < len(body):
            out.append(_ESCAPES.get(body[i + 1], body[i + 1]))
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def tokenize(src: str) -> list[Token]:
    tokens: list[Token] = []
    pos = 0
    line = 1
    # shebang line (reference src/grammar.lalrpop:25)
    if src.startswith("#"):
        nl = src.find("\n")
        pos = len(src) if nl < 0 else nl + 1
        line = 2
    n = len(src)
    while pos < n:
        m = _TOKEN_RE.match(src, pos)
        if m is None:
            raise LexError(f"line {line}: unexpected character {src[pos]!r}")
        text = m.group(0)
        kind = m.lastgroup
        if kind not in ("ws", "comment"):
            if kind == "id" and text in KEYWORDS:
                tokens.append(Token(text, text, pos, line))
            elif kind == "punct":
                tokens.append(Token(text, text, pos, line))
            elif kind == "str":
                tokens.append(Token("STR", unescape(text[1:-1]), pos, line))
            elif kind == "int":
                # the version literal `0.1-pre_mvp` is matched contextually by
                # the parser; lexer sees 0 . 1 - pre_mvp otherwise
                tokens.append(Token("INT", text, pos, line))
            elif kind == "float":
                tokens.append(Token("FLOAT", text, pos, line))
            elif kind == "id":
                tokens.append(Token("ID", text, pos, line))
            elif kind == "typename":
                tokens.append(Token("TYPENAME", text, pos, line))
            elif kind == "version":
                tokens.append(Token("VERSION", text, pos, line))
        line += text.count("\n")
        pos = m.end()
    tokens.append(Token("EOF", "", pos, line))
    return tokens
