#!/usr/bin/env python3
"""List every public `def` in src/main that nothing in src/main or perfbench/src
references, and exit 1 if any is listed.

A def is public when it is a member of a class, object or trait whose own
enclosing templates are all public, and it carries none of `private`,
`protected` or `override`. Defs inside method bodies or anonymous classes are
not public API.

A reference is an identifier token with the def's name anywhere but at a
definition site. Tokens come from a small Scala lexer, so names that appear
only in comments (line, nested block) or string literals (plain, triple-quoted,
interpolated, char) do not count; code inside `${...}` splices and `$name`
splices does. The scan is by name: a reference to one overload or to a
same-named member elsewhere keeps every def of that name alive.

Allowed without a reference: methods named `main` (JVM entry points) and
`SparkEntry.entry` (the driver's query-registry contract).

Usage: python3 tools/unused_api.py [repo_root]
"""
import os
import sys

MAIN_DIRS = ["src/main"]
REF_DIRS = ["src/main", "perfbench/src"]
ALLOWED_NAMES = {"main"}
ALLOWED_QUALIFIED = {"SparkEntry.entry"}
NON_PUBLIC_MODS = {"private", "protected", "override"}
MODIFIERS = NON_PUBLIC_MODS | {"final", "implicit", "lazy", "abstract", "sealed", "case"}
TEMPLATE_KWS = {"class", "object", "trait"}
# Tokens that may sit between `class Foo` and its body's `{` at the template's
# own paren depth; anything else means the template has no body.
TEMPLATE_HEADER_WORDS = {"extends", "with", "private", "protected", "."}

IDENT_START = set("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ_$")
IDENT_PART = IDENT_START | set("0123456789")


class Tok:
    __slots__ = ("kind", "text", "line")

    def __init__(self, kind, text, line):
        self.kind = kind  # "id" | "punct" | "lit"
        self.text = text
        self.line = line


class Lexer:
    def __init__(self, src):
        self.s = src
        self.i = 0
        self.line = 1
        self.out = []

    def peek(self, k=0):
        j = self.i + k
        return self.s[j] if j < len(self.s) else ""

    def adv(self, n=1):
        for _ in range(n):
            if self.i < len(self.s):
                if self.s[self.i] == "\n":
                    self.line += 1
                self.i += 1

    def emit(self, kind, text, line):
        self.out.append(Tok(kind, text, line))

    def run(self, stop_at_brace=False):
        """Lex code. With stop_at_brace, stop after the `}` that closes an
        interpolation splice `${...}` (nested braces are balanced)."""
        depth = 0
        s = self.s
        while self.i < len(s):
            c = s[self.i]
            if c == "\n" or c.isspace():
                self.adv()
            elif s.startswith("//", self.i):
                while self.i < len(s) and s[self.i] != "\n":
                    self.adv()
            elif s.startswith("/*", self.i):
                self.block_comment()
            elif c == '"':
                self.string(interpolated=self.prev_is_interpolator())
            elif c == "'":
                self.char_or_symbol()
            elif c == "`":
                line = self.line
                self.adv()
                start = self.i
                while self.i < len(s) and s[self.i] not in "`\n":
                    self.adv()
                self.emit("id", s[start:self.i], line)
                self.adv()
            elif c in IDENT_START:
                start, line = self.i, self.line
                while self.i < len(s) and s[self.i] in IDENT_PART:
                    self.adv()
                self.emit("id", s[start:self.i], line)
            elif c.isdigit():
                self.number()
            else:
                if c == "{":
                    depth += 1
                elif c == "}":
                    if stop_at_brace and depth == 0:
                        self.adv()
                        return
                    depth -= 1
                self.emit("punct", c, self.line)
                self.adv()

    def prev_is_interpolator(self):
        # `s"..."`, `f"..."`, `raw"..."`, any `id"..."`: the identifier sits
        # immediately before the quote with no space
        return (
            self.i > 0
            and self.s[self.i - 1] in IDENT_PART
            and self.out
            and self.out[-1].kind == "id"
        )

    def block_comment(self):
        depth = 0
        s = self.s
        while self.i < len(s):
            if s.startswith("/*", self.i):
                depth += 1
                self.adv(2)
            elif s.startswith("*/", self.i):
                depth -= 1
                self.adv(2)
                if depth == 0:
                    return
            else:
                self.adv()

    def string(self, interpolated):
        s = self.s
        line = self.line
        if interpolated:
            self.out.pop()  # the interpolator is not a reference
        triple = s.startswith('"""', self.i)
        self.adv(3 if triple else 1)
        while self.i < len(s):
            c = s[self.i]
            if triple and s.startswith('"""', self.i):
                # the literal ends at the last quote of a run of three or more
                while s.startswith('""""', self.i):
                    self.adv()
                self.adv(3)
                break
            if not triple and c == '"':
                self.adv()
                break
            if not triple and c == "\n":
                break  # unterminated: do not swallow the rest of the file
            if c == "\\" and (not triple or interpolated):
                self.adv(2)
            elif interpolated and c == "$":
                nxt = self.peek(1)
                if nxt == "{":
                    self.adv(2)
                    self.run(stop_at_brace=True)
                elif nxt in IDENT_START and nxt != "$":
                    self.adv()
                    start, l2 = self.i, self.line
                    while self.i < len(s) and s[self.i] in IDENT_PART and s[self.i] != "$":
                        self.adv()
                    self.emit("id", s[start:self.i], l2)
                else:
                    self.adv(2)  # `$$` or `$"` escapes
            else:
                self.adv()
        self.emit("lit", "", line)

    def char_or_symbol(self):
        s = self.s
        line = self.line
        if self.peek(1) == "\\":
            j = self.i + 2
            while j < len(s) and s[j] != "'" and s[j] != "\n":
                j += 1
            self.adv(j + 1 - self.i)
            self.emit("lit", "", line)
        elif self.peek(2) == "'":
            self.adv(3)
            self.emit("lit", "", line)
        else:
            self.adv()  # a symbol literal's quote; its name lexes as an id

    def number(self):
        s = self.s
        if s.startswith(("0x", "0X"), self.i):
            self.adv(2)
        while self.i < len(s) and (s[self.i] in IDENT_PART or (
                s[self.i] == "." and self.peek(1).isdigit())):
            if s[self.i] in "eE" and self.peek(1) in "+-":
                self.adv()
            self.adv()
        self.emit("lit", "", self.line)


def lex(src):
    lx = Lexer(src)
    lx.run()
    return lx.out


def modifiers_before(toks, k):
    """Modifier words before toks[k], skipping `[qualifier]`s and annotations."""
    mods = set()
    j = k - 1
    while j >= 0:
        t = toks[j]
        if t.kind == "id" and t.text in MODIFIERS:
            mods.add(t.text)
            j -= 1
        elif t.text == "]":
            depth = 0
            while j >= 0:
                if toks[j].text == "]":
                    depth += 1
                elif toks[j].text == "[":
                    depth -= 1
                    if depth == 0:
                        break
                j -= 1
            j -= 1
        elif t.kind == "id" and j > 0 and toks[j - 1].text == "@":
            j -= 2
        else:
            break
    return mods


def public_defs(path, toks):
    """Yield (name, owner, line) for each public member def in one file."""
    # scopes: one entry per open `{`: (is_template, is_public, owner name)
    scopes = []
    depth = 0  # paren/bracket depth
    pending = None  # (name, public, depth) of a template header awaiting `{`
    for k, t in enumerate(toks):
        txt = t.text
        if t.kind == "id" and txt in TEMPLATE_KWS and not (k > 0 and toks[k - 1].text == "."):
            name = toks[k + 1].text if k + 1 < len(toks) else "?"
            enclosing_public = all(s[1] for s in scopes)
            public = enclosing_public and not (modifiers_before(toks, k) & {"private", "protected"})
            pending = (name, public, depth)
            continue
        if t.kind == "punct" and txt in ("(", "["):
            depth += 1
            continue
        if t.kind == "punct" and txt in (")", "]"):
            depth -= 1
            continue
        if pending is not None and depth == pending[2]:
            if txt == "{":
                scopes.append((True, pending[1], pending[0]))
                pending = None
                continue
            prev = toks[k - 1].text
            # the template's own name, a parent type's name, or a header word
            in_header = (prev in TEMPLATE_KWS or prev in ("extends", "with", ".")
                         or txt in TEMPLATE_HEADER_WORDS)
            if not in_header:
                pending = None
        if txt == "{":
            scopes.append((False, False, None))
        elif txt == "}":
            if scopes:
                scopes.pop()
        elif txt == "def" and t.kind == "id" and k + 1 < len(toks):
            nt = toks[k + 1]
            if nt.kind != "id":
                continue
            if not scopes or not all(s[0] and s[1] for s in scopes):
                continue
            if modifiers_before(toks, k) & NON_PUBLIC_MODS:
                continue
            yield nt.text, scopes[-1][2], nt.line


def scala_files(root, dirs):
    for d in dirs:
        for base, _, files in os.walk(os.path.join(root, d)):
            for f in sorted(files):
                if f.endswith(".scala"):
                    yield os.path.join(base, f)


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(os.path.dirname(__file__), "..")
    root = os.path.abspath(root)
    lexed = {}
    for p in scala_files(root, REF_DIRS):
        with open(p, encoding="utf-8") as fh:
            lexed[p] = lex(fh.read())

    refs = {}
    for toks in lexed.values():
        for k, t in enumerate(toks):
            if t.kind == "id" and not (k > 0 and toks[k - 1].text == "def"):
                refs[t.text] = refs.get(t.text, 0) + 1

    main_paths = set(scala_files(root, MAIN_DIRS))
    unused = []
    for p in sorted(main_paths):
        for name, owner, line in public_defs(p, lexed[p]):
            if name in ALLOWED_NAMES or f"{owner}.{name}" in ALLOWED_QUALIFIED:
                continue
            if refs.get(name, 0) == 0:
                unused.append(f"{os.path.relpath(p, root)}:{line}: {owner}.{name}")

    for u in unused:
        print(u)
    if unused:
        print(f"{len(unused)} public def(s) with no reference in {' or '.join(REF_DIRS)}")
        return 1
    print("no unreferenced public defs")
    return 0


if __name__ == "__main__":
    sys.exit(main())
