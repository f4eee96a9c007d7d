"""Element views: the reference's AST element extraction — declaration
kinds beyond functions/types (Field / Constant / Constructor /
Extension / Property), namespace attribution for every declaration,
and usage References — re-expressed on the shared comment/string-exact
token stream.

Reference: rust/code_ast/src/elements/types.rs:25-45 (DeclarationKind
incl. Field, Constant, Constructor, Extension, Property),
types.rs:119-142 (Declaration.namespace + Reference); per-language
configs rust/code_ast/src/elements/lang/rust.rs, java.rs, csharp.rs,
kotlin.rs. The reference builds these views from tree-sitter parse
trees; here the same classifications derive from brace_definitions'
lexer-exact regions (operators/code_boundaries.py) plus a direct-member
token scan per container — a `const` inside a string literal or
comment can never become a declaration, because the lexer already
dropped it.

Namespace rules (matching the reference's attribution):
- file base: `package a.b;` (Java), `namespace A.B;` / `namespace A.B
  {}` (C#); Rust's crate root is the empty namespace.
- nesting: each enclosing container contributes its name; an `impl S`
  block attributes members to `S` (the reference's method-owner rule).

Scale shape: everything here is per-row Python executed in Arrow
batches via the definitions_df plumbing — no shuffle, no join; the
downstream def⋈ref joins are doc_id-keyed equi-joins (bounded per
document).
"""

from __future__ import annotations

import bisect

import pandas as pd

from cocoindex_spark.operators.code_boundaries import brace_definitions
from cocoindex_spark.operators.code_match import Tok, tokenize

# Container kinds that contribute a namespace segment to members.
_CONTAINERS = {
    "class", "struct", "trait", "impl", "interface", "enum", "record",
    "object", "namespace", "module", "union", "protocol", "extension",
    "mixin", "contract", "library", "type",
}

# Kinds whose bodies get a direct-member field/constant scan.
_MEMBER_HOSTS = {
    "rust": {"struct", "union"},
    "java": {"class", "interface", "enum", "record"},
    "c_sharp": {"class", "interface", "struct", "record"},
    "kotlin": {"class", "object", "interface"},
    "cpp": {"class", "struct"},
    "go": {"type"},
    "javascript": {"class"},
    "typescript": {"class", "interface"},
}

_LANG_KEYWORDS = {
    "rust": {
        "fn", "struct", "enum", "trait", "impl", "mod", "union", "macro_rules",
        "let", "const", "static", "if", "else", "match", "while", "for",
        "loop", "return", "use", "pub", "crate", "self", "Self", "super",
        "where", "move", "ref", "mut", "as", "in", "break", "continue",
        "unsafe", "async", "await", "dyn", "type",
    },
    "java": {
        "class", "interface", "enum", "record", "if", "else", "for",
        "while", "switch", "case", "return", "new", "package", "import",
        "public", "private", "protected", "static", "final", "abstract",
        "void", "int", "long", "double", "float", "boolean", "char",
        "byte", "short", "this", "super", "throw", "throws", "try",
        "catch", "finally", "synchronized", "instanceof", "assert",
        "do", "break", "continue", "default", "extends", "implements",
    },
    "c_sharp": {
        "class", "interface", "struct", "enum", "record", "namespace",
        "if", "else", "for", "foreach", "while", "switch", "case",
        "return", "new", "using", "public", "private", "protected",
        "internal", "static", "readonly", "const", "void", "int", "long",
        "double", "float", "bool", "char", "byte", "string", "this",
        "base", "throw", "try", "catch", "finally", "lock", "is", "as",
        "do", "break", "continue", "default", "var", "get", "set",
        "partial", "sealed", "override", "virtual", "async", "await",
    },
    "kotlin": {
        "fun", "class", "interface", "object", "val", "var", "if",
        "else", "for", "while", "when", "return", "package", "import",
        "public", "private", "protected", "internal", "constructor",
        "init", "this", "super", "throw", "try", "catch", "finally",
        "is", "in", "as", "do", "break", "continue", "companion",
        "data", "open", "override", "suspend", "const",
    },
    "cpp": {
        "class", "struct", "enum", "union", "namespace", "typedef",
        "template", "if", "else", "for", "while", "switch", "case",
        "return", "new", "delete", "using", "public", "private",
        "protected", "static", "const", "constexpr", "virtual",
        "override", "final", "void", "int", "long", "double", "float",
        "bool", "char", "unsigned", "signed", "short", "auto", "this",
        "throw", "try", "catch", "do", "break", "continue", "default",
        "inline", "friend", "mutable", "volatile", "explicit",
        "operator", "sizeof", "noexcept",
    },
    "go": {
        "func", "type", "struct", "interface", "map", "chan", "if",
        "else", "for", "switch", "case", "return", "package", "import",
        "var", "const", "go", "defer", "select", "range", "break",
        "continue", "default", "fallthrough", "goto", "make", "new",
        "int", "int32", "int64", "uint", "uint32", "uint64", "float32",
        "float64", "string", "bool", "byte", "rune", "error", "nil",
    },
    "javascript": {
        "function", "class", "const", "let", "var", "if", "else",
        "for", "while", "switch", "case", "return", "new", "import",
        "export", "default", "from", "async", "await", "static",
        "get", "set", "this", "super", "throw", "try", "catch",
        "finally", "typeof", "instanceof", "in", "of", "do", "break",
        "continue", "delete", "void", "yield", "extends", "constructor",
    },
    "typescript": {
        "function", "class", "const", "let", "var", "if", "else",
        "for", "while", "switch", "case", "return", "new", "import",
        "export", "default", "from", "async", "await", "static",
        "get", "set", "this", "super", "throw", "try", "catch",
        "finally", "typeof", "instanceof", "in", "of", "do", "break",
        "continue", "delete", "void", "yield", "extends", "constructor",
        "interface", "type", "enum", "namespace", "readonly", "public",
        "private", "protected", "declare", "abstract", "implements",
        "string", "number", "boolean", "any", "unknown", "never",
    },
    "swift": {
        "func", "class", "struct", "enum", "protocol", "extension",
        "var", "let", "if", "else", "for", "while", "repeat", "switch",
        "case", "return", "import", "guard", "defer", "init", "deinit",
        "self", "Self", "super", "throw", "throws", "rethrows", "try",
        "catch", "in", "as", "is", "where", "break", "continue",
        "default", "do", "public", "private", "internal", "fileprivate",
        "open", "static", "final", "override", "mutating", "lazy",
        "weak", "unowned", "typealias", "associatedtype", "nil", "true",
        "false", "some", "any", "inout", "convenience", "required",
        "subscript", "get", "set", "willSet", "didSet", "operator",
        "indirect", "async", "await", "actor",
    },
}

_MODS = {
    "pub", "public", "private", "protected", "internal", "static",
    "final", "readonly", "const", "abstract", "sealed", "override",
    "virtual", "volatile", "transient", "partial", "new", "unsafe",
    "open", "data", "lateinit", "companion", "crate", "constexpr",
    "inline", "mutable", "extern",
    # Swift declaration modifiers (elements/lang/swift.rs): allowed
    # before var/let/func in statement position
    "fileprivate", "lazy", "weak", "unowned", "mutating", "required",
    "convenience", "indirect",
}


def _ident(t: str) -> bool:
    return bool(t) and (t[0].isalpha() or t[0] == "_")


def _tok_range(toks, start: int, end: int) -> tuple[int, int]:
    """Token index range [lo, hi) covering char span [start, end)."""
    starts = [t.start for t in toks]
    lo = bisect.bisect_left(starts, start)
    hi = bisect.bisect_left(starts, end)
    return lo, hi


def _body_range(toks, lo: int, hi: int) -> tuple[int, int] | None:
    """Token range (exclusive) of the container's outermost {...} body
    inside def-token range [lo, hi)."""
    bal = 0
    open_i = None
    for i in range(lo, hi):
        t = toks[i].text
        if t == "{":
            if bal == 0:
                open_i = i
            bal += 1
        elif t == "}":
            bal -= 1
            if bal == 0 and open_i is not None:
                return open_i + 1, i
    return None


def _base_namespace(toks, language: str) -> tuple[str, list[tuple[str, int, int]]]:
    """(file base namespace, extra namespace regions). Java: `package
    a.b;`. C#: `namespace A.B;` is file-scoped; `namespace A.B { }` is
    a region (C#'s kind table has no namespace regions, so they are
    recovered here)."""
    base = ""
    regions: list[tuple[str, int, int]] = []
    if language == "go":
        # `package name` — single identifier, no terminator
        for i, t in enumerate(toks):
            if t.text == "package" and i + 1 < len(toks) and _ident(toks[i + 1].text):
                return toks[i + 1].text, regions
        return base, regions
    kw = "package" if language == "java" else ("namespace" if language == "c_sharp" else None)
    if kw is None:
        return base, regions
    i = 0
    while i < len(toks):
        if toks[i].text == kw:
            j = i + 1
            parts = []
            while j < len(toks) and (_ident(toks[j].text) or toks[j].text == "."):
                if _ident(toks[j].text):
                    parts.append(toks[j].text)
                j += 1
            name = ".".join(parts)
            if j < len(toks) and toks[j].text == ";":
                base = name  # file-scoped
            elif j < len(toks) and toks[j].text == "{" and name:
                bal = 1
                k = j + 1
                while k < len(toks) and bal:
                    if toks[k].text == "{":
                        bal += 1
                    elif toks[k].text == "}":
                        bal -= 1
                    k += 1
                regions.append((name, toks[i].start, toks[k - 1].end if k else toks[-1].end))
            i = j
        i += 1
    return base, regions


def _member_rows(
    toks,
    lo: int,
    hi: int,
    language: str,
    host_kind: str,
    text: str = "",
    host_name: str = "",
) -> list[dict]:
    """Direct-member Field/Constant/Property declarations inside a
    container body token range [lo, hi)."""
    out: list[dict] = []
    if language in ("javascript", "typescript"):
        # class/interface body: `name(args) {` ⇒ method (constructor
        # for the literal `constructor`); `name = …` / `name: T;` ⇒
        # field. Method bodies are skipped wholesale so locals never
        # surface as members.
        kw = _LANG_KEYWORDS[language]
        i = lo
        while i < hi:
            t = toks[i]
            if t.text == "{":  # stray block (e.g. initializer)
                bal = 1
                i += 1
                while i < hi and bal:
                    if toks[i].text == "{":
                        bal += 1
                    elif toks[i].text == "}":
                        bal -= 1
                    i += 1
                continue
            is_ctor = t.text == "constructor"
            if (_ident(t.text) and t.text not in kw) or is_ctor:
                nxt = toks[i + 1].text if i + 1 < hi else ""
                if nxt == "(":
                    # header: balanced args, optional TS return type,
                    # then a body ⇒ method
                    j = i + 2
                    bal = 1
                    while j < hi and bal:
                        if toks[j].text == "(":
                            bal += 1
                        elif toks[j].text == ")":
                            bal -= 1
                        j += 1
                    while j < hi and toks[j].text not in ("{", ";", "}"):
                        j += 1
                    if j < hi and toks[j].text == "{":
                        out.append({
                            "kind": "constructor" if is_ctor else "method",
                            "name": host_name if is_ctor else t.text,
                            "start": t.start, "end": t.end,
                        })
                        bal = 1
                        j += 1
                        while j < hi and bal:  # skip the body
                            if toks[j].text == "{":
                                bal += 1
                            elif toks[j].text == "}":
                                bal -= 1
                            j += 1
                    i = j
                    continue
                if nxt in ("=", ":", ";") or (
                    i + 1 < hi and "\n" in text[t.end : toks[i + 1].start]
                ):
                    out.append({"kind": "field", "name": t.text,
                                "start": t.start, "end": t.end})
                    # skip to end of statement
                    while i < hi and toks[i].text not in (";", "}"):
                        if toks[i].text == "{":
                            break
                        i += 1
                    continue
            i += 1
        return out
    if language == "go":
        # struct body: one member per LINE at depth 0 — leading
        # comma-separated identifiers before the type are field names
        # (`X, Y float64`); interface method signatures (`Norm() f64`)
        # and embedded qualified types (`sync.Mutex`) are skipped
        depth = 0
        for i in range(lo, hi):
            t = toks[i]
            if t.text in ("{", "(", "["):
                depth += 1
                continue
            if t.text in ("}", ")", "]"):
                depth = max(0, depth - 1)
                continue
            first = i == lo or "\n" in text[toks[i - 1].end : t.start]
            if not (
                depth == 0
                and first
                and _ident(t.text)
                and t.text not in _LANG_KEYWORDS["go"]
            ):
                continue
            nxt = toks[i + 1].text if i + 1 < hi else ""
            if nxt in ("(", "."):
                continue
            names = [(t.text, t.start, t.end)]
            j = i + 1
            while j + 1 < hi and toks[j].text == "," and _ident(toks[j + 1].text):
                names.append((toks[j + 1].text, toks[j + 1].start, toks[j + 1].end))
                j += 2
            if j < hi and (
                _ident(toks[j].text) or toks[j].text in ("*", "[", "map", "chan")
            ):
                for nm, s, e in names:
                    out.append({"kind": "field", "name": nm, "start": s, "end": e})
        return out
    if language == "rust":
        # struct/union body: `[pub] name : Type` separated by `,`
        depth = 0
        expect = True  # at a member boundary
        i = lo
        while i < hi:
            t = toks[i].text
            if t in ("{", "(", "[", "<"):
                depth += 1
            elif t in ("}", ")", "]", ">"):
                depth = max(0, depth - 1)
            elif depth == 0 and t == ",":
                expect = True
            elif depth == 0 and expect and _ident(t) and t not in ("pub", "crate"):
                if i + 1 < hi and toks[i + 1].text == ":":
                    out.append({"kind": "field", "name": t, "start": toks[i].start,
                                "end": toks[i].end})
                expect = False
            i += 1
        return out
    # brace statement languages: statements at body depth 0 split on `;`
    depth = 0
    stmt: list[int] = []
    i = lo
    while i < hi:
        t = toks[i].text
        if t == "{":
            # C# property: `Type Name { get ... }` — the statement so
            # far names it and the block replaces the `;`
            if language == "c_sharp" and depth == 0 and stmt:
                k = i + 1
                bal = 1
                has_accessor = False
                while k < hi and bal:
                    if toks[k].text == "{":
                        bal += 1
                    elif toks[k].text == "}":
                        bal -= 1
                    elif bal == 1 and toks[k].text in ("get", "set", "init"):
                        has_accessor = True
                    k += 1
                name_i = stmt[-1]
                if has_accessor and _ident(toks[name_i].text):
                    out.append({"kind": "property", "name": toks[name_i].text,
                                "start": toks[name_i].start, "end": toks[name_i].end})
                    i = k
                    stmt = []
                    continue
            depth += 1
            stmt = []
        elif t == "}":
            depth = max(0, depth - 1)
            stmt = []
        elif depth == 0:
            if t == ";":
                row = _classify_stmt(toks, stmt, language, host_kind)
                if row:
                    out.append(row)
                stmt = []
            elif t == "=" and language == "kotlin":
                row = _classify_stmt(toks, stmt, language, host_kind)
                if row:
                    out.append(row)
                stmt = []
                # skip initializer to end of line
                ls = toks[i].start
                while i + 1 < hi and toks[i + 1].start <= ls:
                    i += 1
            else:
                stmt.append(i)
        i += 1
    if language == "kotlin" and stmt:
        row = _classify_stmt(toks, stmt, language, host_kind)
        if row:
            out.append(row)
    return out


def _classify_stmt(toks, stmt: list[int], language: str, host_kind: str) -> dict | None:
    """Field/Constant from one member statement's token indices (no
    `(` at balance 0 before any `=` ⇒ not a method/ctor header)."""
    if not stmt:
        return None
    words = [toks[i].text for i in stmt]
    if language == "kotlin":
        if "val" not in words and "var" not in words:
            return None
        kwi = words.index("val") if "val" in words else words.index("var")
        if kwi + 1 >= len(stmt) or not _ident(words[kwi + 1]):
            return None
        name_i = stmt[kwi + 1]
        kind = "constant" if "const" in words[:kwi] else "field"
        return {"kind": kind, "name": toks[name_i].text,
                "start": toks[name_i].start, "end": toks[name_i].end}
    # java / c_sharp: reject method headers and control statements
    name_i = None
    for i in stmt:
        t = toks[i].text
        if t == "(":
            return None  # method/ctor signature
        if t == "=":
            break
        if _ident(t) and t not in _LANG_KEYWORDS.get(language, set()) or t in ("var",):
            name_i = i
    if name_i is None:
        return None
    mods = {toks[i].text for i in stmt if toks[i].text in _MODS}
    if language == "java":
        constant = ("static" in mods and "final" in mods) or host_kind == "interface"
    elif language == "cpp":
        constant = "const" in mods or "constexpr" in mods
    else:
        constant = "const" in mods or ("static" in mods and "readonly" in mods)
    return {"kind": "constant" if constant else "field",
            "name": toks[name_i].text,
            "start": toks[name_i].start, "end": toks[name_i].end}


def _rust_consts(toks) -> list[dict]:
    """`const NAME: T = …;` / `static NAME: T = …;` in statement
    position (previous token ends a statement or is a modifier) —
    const generics and `const fn` never match."""
    out = []
    for i, t in enumerate(toks):
        if t.text not in ("const", "static"):
            continue
        prev = toks[i - 1].text if i else None
        if prev not in (None, ";", "}", "{") and prev not in _MODS:
            continue
        j = i + 1
        if j < len(toks) and toks[j].text == "mut":
            j += 1
        if (
            j + 1 < len(toks)
            and _ident(toks[j].text)
            and toks[j].text != "fn"
            and toks[j + 1].text == ":"
        ):
            out.append({"kind": "constant", "name": toks[j].text,
                        "start": toks[j].start, "end": toks[j].end})
    return out


def _deep_defs(
    text: str, language: str, depth: int = 0, toks: list | None = None
) -> list[dict]:
    """brace_definitions without its depth cap: containers' bodies are
    re-scanned as standalone slices (the lexer is self-contained inside
    a balanced body), so methods of a class inside a namespace/module
    still surface. Two extra levels cover the reference's view shapes.

    ``toks``: the full text's token stream, if the caller already has
    it — saves re-lexing at the top level; recursion passes each body's
    offset-rebased token span down, so the whole walk lexes the
    document exactly once."""
    if toks is None:
        toks = tokenize(text, language)
    defs = brace_definitions(text, language, toks=toks) or []
    if depth >= 2:
        return defs
    out = list(defs)
    # Dedup on (kind, name, END): a def's end is its closing brace /
    # terminator, identical between the outer pass and a body re-scan.
    # Starts can differ by the re-scan slice's stripped first-line
    # indentation (statement-start falls back to line start), which
    # used to leak duplicate rows for a container's first member.
    seen = {(d["kind"], d["name"], d["end"]) for d in defs}
    for d in defs:
        if d["kind"] not in _CONTAINERS:
            continue
        lo, hi = _tok_range(toks, d["start"], d["end"])
        body = _body_range(toks, lo, hi)
        if not body or body[0] >= body[1]:
            continue
        off = toks[body[0]].start
        inner_text = text[off : toks[body[1]].start]
        # Re-base the body's ALREADY-LEXED tokens instead of re-lexing
        # the slice: lexing (regex scan) dominates extraction cost;
        # shifting offsets is O(body tokens) and exact because the
        # lexer is self-contained inside a balanced body.
        sub_toks = [
            Tok(t.text, t.start - off, t.end - off)
            for t in toks[body[0] : body[1]]
        ]
        for m in _deep_defs(inner_text, language, depth + 1, toks=sub_toks):
            row = {**m, "start": m["start"] + off, "end": m["end"] + off,
                   "depth": d.get("depth", 0) + 1 + m.get("depth", 0)}
            key = (row["kind"], row["name"], row["end"])
            if key not in seen:
                seen.add(key)
                out.append(row)
    return sorted(out, key=lambda d: (d["start"], d["kind"]))


def _kotlin_top_props(text: str, toks) -> list[dict]:
    """Top-level (brace depth 0) `val`/`var` declarations in statement
    position (first on their line, modifiers allowed) — Kotlin
    top-level properties; `const val` ⇒ Constant."""
    out = []
    depth = 0
    for i, t in enumerate(toks):
        if t.text == "{":
            depth += 1
        elif t.text == "}":
            depth = max(0, depth - 1)
        elif depth == 0 and t.text in ("val", "var"):
            prev = toks[i - 1] if i else None
            first_on_line = prev is None or "\n" in text[prev.end : t.start]
            if not first_on_line and (prev is None or prev.text not in _MODS):
                continue
            if i + 1 < len(toks) and _ident(toks[i + 1].text):
                kind = (
                    "constant"
                    if prev is not None and prev.text == "const"
                    else "field"
                )
                out.append({"kind": kind, "name": toks[i + 1].text,
                            "start": toks[i + 1].start, "end": toks[i + 1].end})
    return out


def _swift_props(text: str, toks, fn_spans: list[tuple[int, int]]) -> list[dict]:
    """Swift property declarations (reference elements/lang/swift.rs:
    property_declaration / protocol_property_declaration → Property):
    statement-position ``var``/``let`` — first token on its line, or
    preceded only by declaration modifiers — at file scope or directly
    in a type body. Function-body locals (the span filter) and
    ``if let`` / ``guard let`` conditional bindings (the line rule)
    never surface."""
    out = []
    kw = _LANG_KEYWORDS["swift"]
    for i, t in enumerate(toks):
        if t.text not in ("var", "let"):
            continue
        if any(s < t.start < e for s, e in fn_spans):
            continue
        prev = toks[i - 1] if i else None
        first = prev is None or "\n" in text[prev.end : t.start]
        if not (first or (prev is not None and prev.text in _MODS)):
            continue
        if i + 1 < len(toks) and _ident(toks[i + 1].text) and toks[i + 1].text not in kw:
            n = toks[i + 1]
            out.append({"kind": "property", "name": n.text,
                        "start": n.start, "end": n.end})
    return out


# --- Python: AST-exact element views (reference elements/lang/
#     python.rs) — the stdlib ast is strictly better than the token
#     walk for an indent-structured language, matching how pyast.py
#     already powers Python chunking/definitions.

# Built-in type names excluded from references (python.rs
# exclude_reference_patterns: indistinguishable from user identifiers
# at the AST level).
_PY_EXCLUDE_REFS = {
    "int", "str", "float", "bool", "list", "dict", "set", "tuple",
    "bytes", "complex", "object", "None", "type",
}


def _py_path(node) -> tuple[str, str] | None:
    """(full dotted path, base name) of a call/annotation target —
    python.rs PythonHooks::extract_path: attribute chains join with
    '.', subscripts (`Optional[int]`) strip to their base."""
    import ast as _ast

    if isinstance(node, _ast.Attribute):
        left = _py_path(node.value)
        base = node.attr
        full = f"{left[0]}.{base}" if left and left[0] else base
        return full, base
    if isinstance(node, _ast.Subscript):
        return _py_path(node.value)
    if isinstance(node, _ast.Name):
        return node.id, node.id
    if isinstance(node, _ast.Call):
        return _py_path(node.func)
    return None


def _py_walk(text: str, tree) -> tuple[list[dict], list[dict]]:
    """One AST walk emitting (element rows, reference rows).

    Elements (python.rs declaration_node_kinds): class_definition →
    class, function_definition → function, promoted to method when it
    sits DIRECTLY inside a class body (a def wrapped in `if:` inside a
    class is not a direct member — tree-sitter sees block>if>block).
    Namespace = enclosing class chain ('.'-joined; Python contributes
    no file base — modules come from the path, not the source).

    References (python.rs reference_node_kinds): call targets and
    typed-parameter annotations, qualifier = the dotted path before
    the base name; built-in type names excluded."""
    import ast as _ast

    from cocoindex_spark.operators.pyast import _line_starts, _offset

    starts = _line_starts(text)
    els: list[dict] = []
    refs: list[dict] = []
    class_spans: list[tuple[str, int, int]] = []

    def pos(node) -> int:
        return _offset(starts, node.lineno, node.col_offset)

    def end_pos(node) -> int:
        return _offset(starts, node.end_lineno, node.end_col_offset)

    def walk(node, ns: list[str], direct_class: bool) -> None:
        for child in _ast.iter_child_nodes(node):
            if isinstance(child, _ast.ClassDef):
                s, e = pos(child), end_pos(child)
                els.append({"kind": "class", "name": child.name,
                            "namespace": ".".join(ns), "start": s, "end": e})
                class_spans.append((child.name, s, e))
                walk(child, ns + [child.name], True)
            elif isinstance(child, (_ast.FunctionDef, _ast.AsyncFunctionDef)):
                els.append({
                    "kind": "method" if direct_class else "function",
                    "name": child.name, "namespace": ".".join(ns),
                    "start": pos(child), "end": end_pos(child),
                })
                walk(child, ns, False)
            else:
                # compound statements (if/try/with/for/…) keep the
                # namespace but break direct class membership
                walk(child, ns, False)

    walk(tree, [], False)

    def ns_of(p: int) -> str:
        return ".".join(n for n, s, e in class_spans if s < p <= e)

    for node in _ast.walk(tree):
        if isinstance(node, _ast.Call):
            target = node.func
        elif isinstance(node, _ast.arg) and node.annotation is not None:
            target = node.annotation
        else:
            continue
        p = _py_path(target)
        if p is None or p[0] in _PY_EXCLUDE_REFS:
            continue
        full, base = p
        start = pos(target)
        refs.append({
            "name": base,
            "qualifier": full[: -len(base) - 1] if full != base else "",
            "namespace": ns_of(start),
            "start": start,
        })
    els.sort(key=lambda r: (r["start"], r["kind"], r["name"]))
    refs.sort(key=lambda r: r["start"])
    return els, refs


def _py_prepped(text: str, _prepped):
    """The python `_prepped` payload is the parsed module (or None)."""
    if _prepped is not None:
        return _prepped
    from cocoindex_spark.operators.pyast import parse_python

    return parse_python(text)


def _prep(text: str, language: str) -> tuple:
    """ONE lex + ONE deep-definition walk + namespace scan, shared by
    element and reference extraction (the reference builds both views
    from a single parse tree; elements/mod.rs extract() walks once)."""
    toks = tokenize(text, language)
    defs = _deep_defs(text, language, toks=toks)
    base, ns_regions = _base_namespace(toks, language)
    return toks, defs, base, ns_regions


def element_views(text: str, language: str, _prepped: tuple | None = None) -> list[dict]:
    """Full element view of a source: one row per declaration —
    {kind, name, namespace, start, end}. Kinds: the brace_definitions
    region kinds (class/struct/trait/impl/…) plus function
    reclassification (function | method | constructor | extension) and
    direct-member field / constant / property rows. Namespace = file
    base (package/namespace) + enclosing container names (impl blocks
    attribute to the implemented type).

    Python routes to the stdlib-ast extractor (`_prepped` is then the
    parsed module); every other language shares the token-stream prep."""
    if language == "python":
        tree = _py_prepped(text, _prepped)
        return [] if tree is None else _py_walk(text, tree)[0]
    toks, defs, base, ns_regions = _prepped if _prepped is not None else _prep(
        text, language
    )

    containers = [
        d for d in defs if d["kind"] in _CONTAINERS
    ] + [{"kind": "namespace", "name": n, "start": s, "end": e, "depth": -1}
         for n, s, e in ns_regions]
    containers.sort(key=lambda d: (d["start"], -(d["end"] - d["start"])))

    def ns_of(start: int, end: int, exclude=None) -> str:
        parts = [base] if base else []
        for c in containers:
            if c is exclude:
                continue
            if c["start"] < start and c["end"] >= end:
                parts.append(c["name"])
        return ".".join(parts)

    def host_of(start: int, end: int):
        """Smallest METHOD-OWNING container enclosing the span —
        namespaces/modules scope names but do not own methods (a free
        function inside `namespace x {}` stays a function)."""
        best = None
        for c in containers:
            if c["kind"] in ("namespace", "module"):
                continue
            if c["start"] < start and c["end"] >= end:
                if best is None or c["start"] > best["start"]:
                    best = c
        return best

    rows: list[dict] = []
    hosts = _MEMBER_HOSTS.get(language, set())
    for d in defs:
        if d["kind"] == "function":
            host = host_of(d["start"], d["end"])
            kind = "function"
            name = d["name"]
            lo, hi = _tok_range(toks, d["start"], d["end"])
            if language == "kotlin":
                # `fun Recv.name()` is an extension function
                for i in range(lo, min(hi, lo + 8)):
                    if toks[i].text == "fun":
                        if (
                            i + 3 < hi
                            and _ident(toks[i + 1].text)
                            and toks[i + 2].text == "."
                            and _ident(toks[i + 3].text)
                        ):
                            kind, name = "extension", toks[i + 3].text
                        break
            if kind == "function" and host is not None:
                if language in ("java", "c_sharp", "cpp") and name == host["name"]:
                    kind = "constructor"
                elif language == "c_sharp":
                    # `this` first parameter ⇒ extension method
                    for i in range(lo, hi):
                        if toks[i].text == "(":
                            if i + 1 < hi and toks[i + 1].text == "this":
                                kind = "extension"
                            break
                    else:
                        pass
                    if kind == "function":
                        kind = "method"
                else:
                    kind = "method"
            rows.append({"kind": kind, "name": name,
                         "namespace": ns_of(d["start"], d["end"]),
                         "start": d["start"], "end": d["end"]})
            continue
        me = None
        for c in containers:
            if c["start"] == d["start"] and c["end"] == d["end"] and c["name"] == d["name"]:
                me = c
                break
        rows.append({"kind": d["kind"], "name": d["name"],
                     "namespace": ns_of(d["start"], d["end"], exclude=me),
                     "start": d["start"], "end": d["end"]})
        if d["kind"] in hosts:
            lo, hi = _tok_range(toks, d["start"], d["end"])
            body = _body_range(toks, lo, hi)
            if body:
                for m in _member_rows(
                    toks, body[0], body[1], language, d["kind"], text, d["name"]
                ):
                    m["namespace"] = ns_of(m["start"], m["end"])
                    rows.append(m)
            if language == "kotlin":
                # primary-constructor properties: `class C(val x: T)`
                head_hi = body[0] - 1 if body else hi
                for i in range(lo, head_hi):
                    if toks[i].text in ("val", "var") and i + 1 < head_hi and _ident(
                        toks[i + 1].text
                    ):
                        rows.append({
                            "kind": "field", "name": toks[i + 1].text,
                            "namespace": ns_of(toks[i + 1].start, toks[i + 1].end),
                            "start": toks[i + 1].start, "end": toks[i + 1].end,
                        })
    if language == "rust":
        for m in _rust_consts(toks):
            m["namespace"] = ns_of(m["start"], m["end"])
            rows.append(m)
    if language == "kotlin":
        for m in _kotlin_top_props(text, toks):
            m["namespace"] = ns_of(m["start"], m["end"])
            rows.append(m)
    if language == "go":
        # receiver methods: `func (p *T) Name(...)` — the brace walker
        # skips keywordless receivers, so they surface here with the
        # receiver TYPE as the owning namespace segment (the
        # reference's method-owner rule; elements/lang/go.rs)
        for i, t in enumerate(toks):
            if t.text != "func" or i + 1 >= len(toks) or toks[i + 1].text != "(":
                continue
            j = i + 2
            recv = None
            while j < len(toks) and toks[j].text != ")":
                if _ident(toks[j].text):
                    recv = toks[j].text
                j += 1
            if recv is None or j + 1 >= len(toks) or not _ident(toks[j + 1].text):
                continue
            name_t = toks[j + 1]
            parts = [p for p in (base, recv) if p]
            rows.append({"kind": "method", "name": name_t.text,
                         "namespace": ".".join(parts),
                         "start": t.start, "end": name_t.end})
        # top-level const/var declarations, single or block form
        depth = 0
        for i, t in enumerate(toks):
            if t.text == "{":
                depth += 1
            elif t.text == "}":
                depth = max(0, depth - 1)
            elif depth == 0 and t.text in ("const", "var"):
                kind = "constant" if t.text == "const" else "variable"
                if i + 1 < len(toks) and _ident(toks[i + 1].text):
                    n = toks[i + 1]
                    rows.append({"kind": kind, "name": n.text,
                                 "namespace": base, "start": n.start, "end": n.end})
                elif i + 1 < len(toks) and toks[i + 1].text == "(":
                    j = i + 2
                    while j < len(toks) and toks[j].text != ")":
                        first = "\n" in text[toks[j - 1].end : toks[j].start] or toks[j - 1].text == "("
                        if first and _ident(toks[j].text):
                            rows.append({"kind": kind, "name": toks[j].text,
                                         "namespace": base,
                                         "start": toks[j].start, "end": toks[j].end})
                        j += 1
    if language == "kotlin":
        # secondary constructors: `constructor(...)` inside a class body
        for i, t in enumerate(toks):
            if t.text == "constructor" and i + 1 < len(toks) and toks[i + 1].text == "(":
                host = host_of(t.start, t.end)
                if host is not None:
                    rows.append({"kind": "constructor", "name": host["name"],
                                 "namespace": ns_of(t.start, t.end),
                                 "start": t.start, "end": t.end})
    if language == "swift":
        # property declarations at file scope or directly in a type
        # body (swift.rs property_declaration → Property). Exclude
        # function BODY ranges only — a bodyless protocol signature's
        # sloppy def span must not hide the `var` on the next line.
        fn_spans = []
        for d in defs:
            if d["kind"] != "function":
                continue
            lo, hi = _tok_range(toks, d["start"], d["end"])
            body = _body_range(toks, lo, hi)
            if body and body[0] < body[1]:
                fn_spans.append(
                    (toks[body[0] - 1].end, toks[body[1]].start)
                )
        for m in _swift_props(text, toks, fn_spans):
            m["namespace"] = ns_of(m["start"], m["end"])
            rows.append(m)
    if language in ("javascript", "typescript"):
        # top-level `const NAME` ⇒ constant, `let`/`var NAME` ⇒
        # variable (types.rs Variable); loop headers (`for (let i`)
        # and destructuring are skipped
        depth = 0
        for i, t in enumerate(toks):
            if t.text in ("{", "("):
                depth += 1
            elif t.text in ("}", ")"):
                depth = max(0, depth - 1)
            elif depth == 0 and t.text in ("const", "let", "var"):
                prev = toks[i - 1] if i else None
                first = prev is None or "\n" in text[prev.end : t.start]
                if not (first or (prev is not None and prev.text in (";", "}", "export"))):
                    continue
                if i + 1 < len(toks) and _ident(toks[i + 1].text):
                    n = toks[i + 1]
                    rows.append({
                        "kind": "constant" if t.text == "const" else "variable",
                        "name": n.text, "namespace": ns_of(n.start, n.end),
                        "start": n.start, "end": n.end,
                    })
    rows.sort(key=lambda r: (r["start"], r["kind"], r["name"]))
    return rows


def references(text: str, language: str, _prepped: tuple | None = None) -> list[dict]:
    """Usage References (types.rs:142 Reference): call-site identifier
    references — an identifier token directly followed by `(` that is
    neither a keyword nor the name position of a definition header.
    Comment/string-exact (shared lexer). ``qualifier`` is the dotted
    path of the `::`/`.` chain before the name (``srv::api(`` →
    ``srv``; ``obj.m(`` → ``obj``) — empty for bare calls — which lets
    a consumer resolve qualified cross-module usages against
    declaration namespaces. Rows: {name, qualifier, namespace,
    start}. Python routes to the stdlib-ast extractor (call targets +
    typed-parameter annotations, python.rs reference_node_kinds)."""
    if language == "python":
        tree = _py_prepped(text, _prepped)
        return [] if tree is None else _py_walk(text, tree)[1]
    toks, defs, base, ns_regions = _prepped if _prepped is not None else _prep(
        text, language
    )
    kw = _LANG_KEYWORDS.get(language, set())
    containers = [
        d for d in defs if d["kind"] in _CONTAINERS
    ] + [{"kind": "namespace", "name": n, "start": s, "end": e}
         for n, s, e in ns_regions]

    def ns_of(pos: int) -> str:
        parts = [base] if base else []
        for c in sorted(containers, key=lambda c: c["start"]):
            if c["start"] < pos <= c["end"]:
                parts.append(c["name"])
        return ".".join(parts)

    # name-token offsets of definition headers (never references)
    def_name_offsets: set[int] = set()
    starts = [t.start for t in toks]
    for d in defs:
        lo = bisect.bisect_left(starts, d["start"])
        for i in range(lo, min(lo + 12, len(toks))):
            if toks[i].text == d["name"]:
                def_name_offsets.add(toks[i].start)
                break
    # Member declarations (class methods in js/ts, constructors, …)
    # come from the element member scans, not from `defs` — their rows
    # start AT the name token, so their header `name(` must not count
    # as a call reference either.
    for r in element_views(text, language, _prepped=(toks, defs, base, ns_regions)):
        def_name_offsets.add(r["start"])

    out = []
    intro = {"fn", "def", "func", "fun", "function", "macro_rules"}
    for i, t in enumerate(toks):
        if not _ident(t.text) or t.text in kw:
            continue
        if i + 1 >= len(toks) or toks[i + 1].text != "(":
            continue
        if i > 0 and toks[i - 1].text in intro:
            continue
        if t.start in def_name_offsets:
            continue
        qual_parts: list[str] = []
        j = i - 1
        while (
            j >= 1
            and toks[j].text in ("::", ".")
            and _ident(toks[j - 1].text)
        ):
            qual_parts.insert(0, toks[j - 1].text)
            j -= 2
        out.append({
            "name": t.text,
            "qualifier": ".".join(qual_parts),
            "namespace": ns_of(t.start),
            "start": t.start,
        })
    return out


def elements_df(df, text_col: str, language: str):
    """One row per element view declaration — Arrow-batched, per-row,
    no shuffle; columns (el_kind, el_name, el_namespace, el_start,
    el_end)."""
    from pyspark.sql import functions as F

    schema = (
        "array<struct<kind: string, name: string, namespace: string, "
        "start: long, end: long>>"
    )

    def run(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [[] if t is None else element_views(t, language) for t in texts]
        )

    udf = F.pandas_udf(run, schema)
    return df.withColumn("__e", F.explode(udf(F.col(text_col)))).select(
        *df.columns,
        F.col("__e.kind").alias("el_kind"),
        F.col("__e.name").alias("el_name"),
        F.col("__e.namespace").alias("el_namespace"),
        F.col("__e.start").alias("el_start"),
        F.col("__e.end").alias("el_end"),
    )


def code_views(text: str, language: str) -> list[dict]:
    """Element declarations AND usage references from ONE extraction
    pass — the document is lexed and definition-walked once, both row
    families derive from the shared state (the reference extracts both
    from a single parse tree walk; elements/mod.rs). Union rows:
    {row_kind: element|reference, kind, name, namespace, qualifier,
    start, end} — reference rows carry kind="" / end=start; element
    rows carry qualifier=""."""
    if language == "python":
        tree = _py_prepped(text, None)
        els, refs = ([], []) if tree is None else _py_walk(text, tree)
    else:
        prepped = _prep(text, language)
        els = element_views(text, language, _prepped=prepped)
        refs = references(text, language, _prepped=prepped)
    rows = [
        {"row_kind": "element", "kind": r["kind"], "name": r["name"],
         "namespace": r["namespace"], "qualifier": "",
         "start": r["start"], "end": r["end"]}
        for r in els
    ]
    rows.extend(
        {"row_kind": "reference", "kind": "", "name": r["name"],
         "namespace": r["namespace"], "qualifier": r["qualifier"],
         "start": r["start"], "end": r["start"]}
        for r in refs
    )
    return rows


def code_views_multilang_df(df, text_col: str, lang_col: str):
    """One Arrow pass emitting BOTH element and reference rows, with
    PER-ROW language dispatch: ``code_views(text, lang)`` runs per row,
    so the corpus is lexed once (not once for elements and once for
    references) and a mixed-language corpus takes one pass instead of
    one filtered pass (and one source scan, and one union branch) per
    language. Columns: every input column, then (cv_row_kind, cv_kind,
    cv_name, cv_namespace, cv_qualifier, cv_start, cv_end)."""
    from pyspark.sql import functions as F

    schema = (
        "array<struct<row_kind: string, kind: string, name: string, "
        "namespace: string, qualifier: string, start: long, end: long>>"
    )

    def run(langs: pd.Series, texts: pd.Series) -> pd.Series:
        return pd.Series(
            [
                [] if t is None or lg is None else code_views(t, lg)
                for lg, t in zip(langs, texts)
            ]
        )

    udf = F.pandas_udf(run, schema)
    return df.withColumn(
        "__v", F.explode(udf(F.col(lang_col), F.col(text_col)))
    ).select(
        *df.columns,
        F.col("__v.row_kind").alias("cv_row_kind"),
        F.col("__v.kind").alias("cv_kind"),
        F.col("__v.name").alias("cv_name"),
        F.col("__v.namespace").alias("cv_namespace"),
        F.col("__v.qualifier").alias("cv_qualifier"),
        F.col("__v.start").alias("cv_start"),
        F.col("__v.end").alias("cv_end"),
    )

