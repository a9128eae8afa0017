#!/usr/bin/env python3
"""Prints two size counts of the engine source as one JSON line:

  code_lines        lines of src/main Scala that are neither blank nor
                    comment-only (a line inside a string literal counts
                    as code, a line inside a /* */ block does not)
  settable_options  parameters with a default value, in any def, class or
                    case-class parameter list, plus the fields of every
                    case class named *Config that have no default

Run it from the repository root, or pass the root as the one argument:

    python3 tools/simplicity_counts.py [repo_root]

A simplicity change reports both numbers at its parent and at the change.
"""
import glob
import json
import os
import re
import sys


def scan(text):
    """Splits Scala source into (code, has_code) per line: `code` is the
    line with comments blanked and string contents replaced by spaces,
    `has_code` whether any non-comment token is on the line."""
    out, cur, has = [], [], False
    i, n = 0, len(text)
    block = 0          # nested /* */ depth
    string = None      # None, '"' or '"""'
    while i < n:
        c = text[i]
        if c == "\n":
            out.append(("".join(cur), has))
            cur, has = [], False
            i += 1
            continue
        if block:
            if text.startswith("*/", i):
                block -= 1
                i += 2
            elif text.startswith("/*", i):
                block += 1
                i += 2
            else:
                i += 1
            continue
        if string == '"""':
            has = True
            if text.startswith('"""', i):
                while text.startswith('""""', i):  # quotes closing late
                    i += 1
                string = None
                cur.append('"""')
                i += 3
            else:
                cur.append(" ")
                i += 1
            continue
        if string == '"':
            has = True
            if c == "\\":
                cur.append("  ")
                i += 2
            elif c == '"':
                string = None
                cur.append('"')
                i += 1
            else:
                cur.append(" ")
                i += 1
            continue
        if text.startswith("//", i):
            j = text.find("\n", i)
            i = n if j < 0 else j
            continue
        if text.startswith("/*", i):
            block = 1
            i += 2
            continue
        if text.startswith('"""', i):
            string = '"""'
            has = True
            cur.append('"""')
            i += 3
            continue
        if c == '"':
            string = '"'
            has = True
            cur.append('"')
            i += 1
            continue
        if c == "'" and i + 2 < n and (text[i + 2] == "'" or
                                       (text[i + 1] == "\\" and text[i + 3] == "'")):
            end = i + 3 if text[i + 2] == "'" else i + 4
            cur.append(" " * (end - i))
            has = True
            i = end
            continue
        if not c.isspace():
            has = True
        cur.append(c)
        i += 1
    out.append(("".join(cur), has))
    return out


PARAM = re.compile(r"^\s*(?:@\w+\s+)*(?:implicit\s+)?(?:(?:private|override|"
                   r"final)\s+)*(?:val\s+|var\s+)?[A-Za-z_]\w*\s*:(.*)$", re.S)


def top_level_split(s, sep=","):
    parts, depth, cur = [], 0, []
    for c in s:
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        if c == sep and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(c)
    parts.append("".join(cur))
    return parts


def has_default(type_and_rest):
    """True when a `: Type = expr` tail carries a top-level `=` that is a
    default (not part of =>, ==, <=, >=, !=)."""
    depth = 0
    s = type_and_rest
    for k, c in enumerate(s):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "=" and depth == 0:
            prev = s[k - 1] if k else ""
            nxt = s[k + 1] if k + 1 < len(s) else ""
            if nxt in ">=" or prev in "=<>!":
                continue
            return True
    return False


def param_lists(code):
    """Every parenthesized group that follows a definition head: `def
    name[...]`, `class Name[...]` or a further parameter list of one."""
    heads = re.finditer(r"\b(?:def\s+[^\s(\[:=]+|class\s+\w+)", code)
    for h in heads:
        i = h.end()
        while True:
            while i < len(code) and code[i].isspace():
                i += 1
            if i < len(code) and code[i] == "[":
                i = match(code, i, "[", "]")
                continue
            if i < len(code) and code[i] == "(":
                j = match(code, i, "(", ")")
                yield h.group(0), code[i + 1:j - 1]
                i = j
                continue
            break


def match(code, i, open_c, close_c):
    depth = 0
    while i < len(code):
        if code[i] == open_c:
            depth += 1
        elif code[i] == close_c:
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    return i


def counts(root):
    files = sorted(glob.glob(os.path.join(root, "src", "main", "**", "*.scala"),
                             recursive=True))
    lines = options = 0
    for f in files:
        with open(f, encoding="utf-8") as fh:
            scanned = scan(fh.read())
        lines += sum(1 for _, has in scanned if has)
        code = "\n".join(c for c, _ in scanned)
        for head, params in param_lists(code):
            config = re.match(r"class\s+\w*Config$", head) is not None
            for p in top_level_split(params):
                m = PARAM.match(p)
                if m and (config or has_default(m.group(1))):
                    options += 1
    return {"code_lines": lines, "settable_options": options}


if __name__ == "__main__":
    print(json.dumps(counts(sys.argv[1] if len(sys.argv) > 1 else ".")))
