#!/usr/bin/env python3
"""List every public member of src/main (`def`, `val`, `lazy val`, `var`) that
nothing in src/main or perfbench/src references, and every default parameter
of a public src/main def that no call in src/main, perfbench/src or src/test
passes; print how many default parameters the public src/main defs have, and
exit 1 if anything is listed.

A member is public when it sits directly in the body of a class, object or
trait whose own enclosing templates are all public, and it carries none of
`private`, `protected` or `override`. Members inside method bodies, anonymous
classes or constructor parameter lists are not public API.

Tokens come from a small Scala lexer, so names that appear only in comments
(line, nested block) or string literals (plain, triple-quoted, interpolated,
char) do not count; code inside `${...}` splices and `$name` splices does. A
token at a definition site (after `def`, `val`, `var`, `class`, `object`,
`trait`, `type`) is not a reference. Every other token `name` is resolved:

- `Q.name`, where `Q` is a template of the scanned sources, references the
  member `name` of `Q` and of the templates `Q` extends, and nothing else.
  So a dead `Sitemaps.parse` is not kept alive by a live `Robots.parse`.
- `import ...Q.name` and `import ...Q.{name, ...}` reference `Q.name`;
  `import ...Q._` makes every bare `name` in the file a reference to `Q.name`.
- A bare `name` references the member `name` of every enclosing template and
  of the templates they extend.
- Any other `x.name`, and any bare `name`, references every class or trait
  member called `name`: an instance member is reachable through any value of
  its type, which a lexer cannot type. Object members are reached only by the
  three rules above.
- `apply` and `unapply` count as referenced wherever their owner's name
  appears, since `Owner(...)` and `case Owner(...)` call them unnamed.

Templates are keyed by simple name: a companion class and object, or two
templates sharing a name, share one set of references.

Allowed without a reference: methods named `main` (JVM entry points) and
`SparkEntry.entry` (the driver's query-registry contract).

A default parameter is passed by a call `name(...)(...)` (after optional
`[...]` type arguments) whose argument list at the parameter's list index
has more positional arguments than the parameter's position, or names it
(`param = ...`). A call `Q.name`, where `Q` is a template of the scanned
sources, binds only to the defs of `Q` and of the templates `Q` extends; any
other call binds to every def of that name. A call binds to an overload only
if it fits it: no list has too many positional arguments or an unknown name,
and every parameter without a default is given. `tools/unused_api_check.py`
checks this rule on a fixture.

Usage: python3 tools/unused_api.py [repo_root]
"""
import os
import sys

MAIN_DIRS = ["src/main"]
REF_DIRS = ["src/main", "perfbench/src"]
CALL_DIRS = REF_DIRS + ["src/test"]
ALLOWED_NAMES = {"main"}
ALLOWED_QUALIFIED = {"SparkEntry.entry"}
NON_PUBLIC_MODS = {"private", "protected", "override"}
MODIFIERS = NON_PUBLIC_MODS | {"final", "implicit", "lazy", "abstract", "sealed", "case"}
TEMPLATE_KWS = {"class", "object", "trait"}
MEMBER_KWS = {"def", "val", "var"}
DEFINING_KWS = MEMBER_KWS | TEMPLATE_KWS | {"type"}
CALLED_BY_OWNER = {"apply", "unapply"}
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


class FileScan:
    """One pass over a file's tokens: its templates, its template-level
    members, its imports and, for every token, the enclosing template names."""

    def __init__(self, toks):
        self.toks = toks
        self.templates = {}  # name -> set of parent names
        self.members = []  # (name, owner, line, public, declared in an object)
        self.public_defs = []  # (name, owner, line, index of the `def` token)
        self.owners = []  # per token: tuple of enclosing template names
        self.imported = []  # (owner, name) named by an import
        self.wildcards = set()  # owners whose members are imported with `_`
        self._walk()
        self._imports()

    def _walk(self):
        toks = self.toks
        # scopes: one entry per open `{`:
        # (is_template, is_public, owner, paren depth, is_object)
        scopes = []
        depth = 0  # paren/bracket depth
        pending = None  # (name, public, depth, is_object) of a header awaiting `{`
        owners = ()
        for k, t in enumerate(toks):
            self.owners.append(owners)
            txt = t.text
            if t.kind == "id" and txt in TEMPLATE_KWS and not (k > 0 and toks[k - 1].text == "."):
                name = toks[k + 1].text if k + 1 < len(toks) else "?"
                enclosing_public = all(s[1] for s in scopes)
                public = enclosing_public and not (modifiers_before(toks, k) & {"private", "protected"})
                self.templates.setdefault(name, set())
                pending = (name, public, depth, txt == "object")
                continue
            if t.kind == "punct" and txt in ("(", "["):
                depth += 1
                continue
            if t.kind == "punct" and txt in (")", "]"):
                depth -= 1
                continue
            if pending is not None and depth == pending[2]:
                if txt == "{":
                    scopes.append((True, pending[1], pending[0], depth, pending[3]))
                    owners = owners + (pending[0],)
                    pending = None
                    continue
                prev = toks[k - 1].text
                # the template's own name, a parent type's name, or a header word
                in_header = (prev in TEMPLATE_KWS or prev in ("extends", "with", ".")
                             or txt in TEMPLATE_HEADER_WORDS)
                if not in_header:
                    pending = None
                elif t.kind == "id" and prev in ("extends", "with", "."):
                    self.templates[pending[0]].add(txt)
            if txt == "{":
                scopes.append((False, False, None, depth, False))
            elif txt == "}":
                if scopes and scopes.pop()[0]:
                    owners = owners[:-1]
            elif t.kind == "id" and txt in MEMBER_KWS and k + 2 < len(toks):
                nt = toks[k + 1]
                if nt.kind != "id" or (txt != "def" and toks[k + 2].text == "("):
                    continue  # a pattern definition: `val (a, b) = ...`
                if not scopes or not scopes[-1][0] or scopes[-1][3] != depth:
                    continue  # a local, or a constructor parameter
                public = (all(s[0] and s[1] for s in scopes)
                          and not (modifiers_before(toks, k) & NON_PUBLIC_MODS))
                self.members.append((nt.text, scopes[-1][2], nt.line, public, scopes[-1][4]))
                if txt == "def" and public:
                    self.public_defs.append((nt.text, scopes[-1][2], nt.line, k))

    def _imports(self):
        toks = self.toks
        k = 0
        while k < len(toks):
            if not (toks[k].kind == "id" and toks[k].text == "import"):
                k += 1
                continue
            k += 1
            # one clause per iteration: `a.b.C.name`, `a.b.C._` or `a.b.C.{x, y => z, _}`
            while k < len(toks):
                path = []
                while k < len(toks) and toks[k].kind == "id":
                    path.append(toks[k].text)
                    k += 1
                    if k < len(toks) and toks[k].text == ".":
                        k += 1
                    else:
                        break
                if k < len(toks) and toks[k].text == "{" and path:
                    k += 1
                    while k < len(toks) and toks[k].text != "}":
                        sel = toks[k]
                        if sel.kind == "id" and sel.text == "_":
                            self.wildcards.add(path[-1])
                        elif sel.kind == "id" and toks[k - 1].text != ">":
                            self.imported.append((path[-1], sel.text))
                        k += 1
                    k += 1
                elif len(path) > 1 and path[-1] == "_":
                    self.wildcards.add(path[-2])
                elif len(path) > 1:
                    self.imported.append((path[-2], path[-1]))
                if k < len(toks) and toks[k].text == ",":
                    k += 1
                else:
                    break


def group_end(toks, k):
    """Index just past the bracket group that opens at toks[k]."""
    depth = 0
    for j in range(k, len(toks)):
        if toks[j].kind == "punct":
            if toks[j].text in "([{":
                depth += 1
            elif toks[j].text in ")]}":
                depth -= 1
                if depth == 0:
                    return j + 1
    return len(toks)


def top_level_items(toks, lo, hi):
    """The comma-separated items of toks[lo:hi], as (start, end) index pairs."""
    items, depth, start = [], 0, lo
    for j in range(lo, hi):
        t = toks[j]
        if t.kind == "punct":
            if t.text in "([{":
                depth += 1
            elif t.text in ")]}":
                depth -= 1
            elif t.text == "," and depth == 0:
                items.append((start, j))
                start = j + 1
    if start < hi:
        items.append((start, hi))
    return items


def is_assign(toks, j):
    """toks[j] is a lone `=`: not part of `==`, `=>`, `<=`, `>=` or `!=`."""
    return (toks[j].text == "=" and j + 1 < len(toks) and toks[j + 1].text not in ("=", ">")
            and toks[j - 1].text not in ("=", "<", ">", "!"))


def arg_lists(toks, j):
    """The parenthesised lists from toks[j] on, after optional `[...]` type
    arguments, as (start, end) pairs of their inner tokens."""
    if j < len(toks) and toks[j].text == "[":
        j = group_end(toks, j)
    lists = []
    while j < len(toks) and toks[j].text == "(":
        end = group_end(toks, j)
        lists.append((j + 1, end - 1))
        j = end
    return lists


def def_params(toks, k):
    """The parameter lists of the def at toks[k]: per list, a list of
    (name, has default, repeated) triples."""
    out = []
    for lo, hi in arg_lists(toks, k + 2):
        params = []
        for a, b in top_level_items(toks, lo, hi):
            ids = [t for t in toks[a:b] if t.kind == "id" and t.text not in ("implicit", "using")]
            if not ids:
                continue
            params.append((ids[0].text, any(is_assign(toks, j) for j in range(a, b)),
                           toks[b - 1].text == "*"))
        out.append(params)
    return out


def call_args(toks, lists):
    """Per argument list of a call: (number of positional arguments, names
    of the named ones)."""
    out = []
    for lo, hi in lists:
        positional, named = 0, set()
        for a, b in top_level_items(toks, lo, hi):
            if b - a > 2 and toks[a].kind == "id" and is_assign(toks, a + 1):
                named.add(toks[a].text)
            else:
                positional += 1
        out.append((positional, named))
    return out


def fits(params, args):
    """A call's argument lists could bind to a def with these parameter
    lists: no list has too many positional arguments, an unknown name, or a
    parameter without a default left unset."""
    for plist, (positional, named) in zip(params, args):
        names = [p[0] for p in plist]
        repeated = bool(plist) and plist[-1][2]
        if positional > len(plist) and not repeated:
            return False
        if not named <= set(names):
            return False
        for i, (name, has_default, rep) in enumerate(plist):
            if not (has_default or rep or i < positional or name in named):
                return False
    return True


def scala_files(root, dirs):
    for d in dirs:
        for base, _, files in os.walk(os.path.join(root, d)):
            for f in sorted(files):
                if f.endswith(".scala"):
                    yield os.path.join(base, f)


def scan(root):
    """Returns (unreferenced public members, number of default parameters of
    public src/main defs, those of them that no call passes)."""
    scans = {}
    for p in scala_files(root, REF_DIRS):
        with open(p, encoding="utf-8") as fh:
            scans[p] = FileScan(lex(fh.read()))
    call_toks = [sc.toks for sc in scans.values()]
    for p in scala_files(root, [d for d in CALL_DIRS if d not in REF_DIRS]):
        with open(p, encoding="utf-8") as fh:
            call_toks.append(lex(fh.read()))

    templates = {}  # name -> set of parent names
    declared = {}  # owner -> names of its members
    instance_members = set()  # names of class and trait members
    for sc in scans.values():
        for name, parents in sc.templates.items():
            templates.setdefault(name, set()).update(parents)
        for name, owner, _, _, in_object in sc.members:
            declared.setdefault(owner, set()).add(name)
            if not in_object:
                instance_members.add(name)

    def with_ancestors(owner):
        seen, todo = set(), [owner]
        while todo:
            o = todo.pop()
            if o not in seen:
                seen.add(o)
                todo.extend(templates.get(o, ()))
        return seen

    refs = set()  # (owner, name); owner None stands for any class or trait
    mentioned = set()  # template names used outside their definition
    for sc in scans.values():
        toks = sc.toks
        refs.update(sc.imported)
        for k, t in enumerate(toks):
            if t.kind != "id":
                continue
            prev = toks[k - 1].text if k > 0 else ""
            if prev in DEFINING_KWS or prev == "import":
                continue
            if t.text in templates:
                mentioned.add(t.text)
            qual = toks[k - 2] if k > 1 and prev == "." else None
            if qual is not None and qual.kind == "id" and qual.text in templates:
                refs.update((o, t.text) for o in with_ancestors(qual.text))
                continue
            if qual is None or qual.text in ("this", "super"):
                for enclosing in sc.owners[k]:
                    for o in with_ancestors(enclosing):
                        if t.text in declared.get(o, ()):
                            refs.add((o, t.text))
                for w in sc.wildcards:
                    if t.text in declared.get(w, ()):
                        refs.add((w, t.text))
            if t.text in instance_members:
                refs.add((None, t.text))

    def referenced(owner, name, in_object):
        return ((owner, name) in refs
                or (name in CALLED_BY_OWNER and owner in mentioned)
                or (not in_object and (None, name) in refs))

    unused = []
    defaulted = []  # (path, line, owner, name, parameter lists)
    for p in sorted(scala_files(root, MAIN_DIRS)):
        sc = scans[p]
        for name, owner, line, public, in_object in sc.members:
            if not public or name in ALLOWED_NAMES or f"{owner}.{name}" in ALLOWED_QUALIFIED:
                continue
            if not referenced(owner, name, in_object):
                unused.append(f"{os.path.relpath(p, root)}:{line}: {owner}.{name}")
        for name, owner, line, k in sc.public_defs:
            params = def_params(sc.toks, k)
            if any(d for plist in params for _, d, _ in plist):
                defaulted.append((p, line, owner, name, params))

    # every call of a defaulted def's name: (owners the qualifier allows, or
    # None for any, argument lists)
    names = {d[3] for d in defaulted}
    calls = {}
    for toks in call_toks:
        for k, t in enumerate(toks):
            if t.kind != "id" or t.text not in names or k + 1 >= len(toks):
                continue
            if k > 0 and toks[k - 1].text in DEFINING_KWS:
                continue
            lists = arg_lists(toks, k + 1)
            if not lists:
                continue
            qual = toks[k - 2] if k > 1 and toks[k - 1].text == "." else None
            owners = (with_ancestors(qual.text)
                      if qual is not None and qual.kind == "id" and qual.text in templates
                      else None)
            calls.setdefault(t.text, []).append((owners, call_args(toks, lists)))

    total, unpassed = 0, []
    for p, line, owner, name, params in defaulted:
        matching = [args for owners, args in calls.get(name, ())
                    if (owners is None or owner in owners) and fits(params, args)]
        for li, plist in enumerate(params):
            for i, (pname, has_default, _) in enumerate(plist):
                if not has_default:
                    continue
                total += 1
                if not any(li < len(args) and (args[li][0] > i or pname in args[li][1])
                           for args in matching):
                    unpassed.append(f"{os.path.relpath(p, root)}:{line}: {owner}.{name}({pname})")
    return unused, total, unpassed


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(os.path.dirname(__file__), "..")
    unused, total, unpassed = scan(os.path.abspath(root))
    for u in unused:
        print(u)
    if unused:
        print(f"{len(unused)} public member(s) with no reference in {' or '.join(REF_DIRS)}")
    else:
        print("no unreferenced public members")
    for u in unpassed:
        print(u)
    print(f"{total} default parameter(s) on public defs in {' or '.join(MAIN_DIRS)}, "
          f"{len(unpassed)} of them passed by no call in {', '.join(CALL_DIRS)}")
    return 1 if unused or unpassed else 0


if __name__ == "__main__":
    sys.exit(main())
