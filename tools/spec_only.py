#!/usr/bin/env python3
"""List src/main code that only the specs reach.

The roots are the top-level objects/classes/traits of src/main whose name
appears outside comments in perfbench/, tools/ or .claude/skills/verify/,
plus the ALLOWED reference surface. A declaration named in the body of a
reached one is reached too. Specs under src/test do not count, so code that
only specs call, or that only other unreached code calls (a rule and the
extension class that injects it), is unreached.

Prints each unreached name and exits 1 if there is one; exits 0 otherwise.

Usage: python3 tools/spec_only.py
"""
import pathlib
import re
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent

# The reference's own surface, kept even where only specs call it: the
# h-isac.py config and CSV sink, firehose.py's pastebin fetch, splunk2.py's
# response parser and the Parquet layout DEPLOYMENT.md documents. What these
# reach is reached too.
ALLOWED = {
    "SplunkConfig", "CsvSink", "HttpPageFetcher", "LivePastebin",
    "SplunkResponse", "ParquetSink",
}

DECL = re.compile(
    r"^(?:(?:final|sealed|abstract|case|implicit|private(?:\[\w+\])?)\s+)*"
    r"(?:object|class|trait)\s+(\w+)", re.M)
CHAR = re.compile(r"'(?:\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'")


def strip_scala_comments(src):
    """`src` with // and (nested) /* */ comments blanked; string and char
    literals are kept, so a class named in a string still counts."""
    out, i, n, depth = [], 0, len(src), 0
    while i < n:
        if depth:
            if src.startswith("/*", i):
                depth, i = depth + 1, i + 2
            elif src.startswith("*/", i):
                depth, i = depth - 1, i + 2
            else:
                if src[i] == "\n":
                    out.append("\n")
                i += 1
        elif src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            depth, i = 1, i + 2
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            out.append(src[i:j])
            i = j
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1])
            i = j + 1
        elif CHAR.match(src, i):
            j = CHAR.match(src, i).end()
            out.append(src[i:j])
            i = j
        else:
            out.append(src[i])
            i += 1
    return "".join(out)


def strip_hash_comments(src):
    return re.sub(r"(?m)(^|\s)#.*$", r"\1", src)


def declarations():
    """(name, body) per top-level declaration in src/main; the body runs to
    the next top-level declaration of the same file."""
    decls = []
    for path in sorted((ROOT / "src/main").rglob("*.scala")):
        code = strip_scala_comments(path.read_text())
        starts = list(DECL.finditer(code))
        for k, m in enumerate(starts):
            end = starts[k + 1].start() if k + 1 < len(starts) else len(code)
            decls.append((m.group(1), code[m.start():end]))
    return decls


SKIP_DIRS = {"target", "project", ".bench_build", ".bench_work", "__pycache__"}


def outside_texts():
    """The comment-stripped texts of perfbench/, tools/ (this script
    excepted) and the verify skill: the roots of reachability."""
    texts = []
    for top in ("perfbench", "tools", ".claude/skills/verify"):
        for path in sorted((ROOT / top).rglob("*")):
            if (not path.is_file() or path.resolve() == pathlib.Path(__file__).resolve()
                    or SKIP_DIRS & set(path.relative_to(ROOT).parts)):
                continue
            src = path.read_text(errors="replace")
            if path.suffix == ".scala":
                texts.append(strip_scala_comments(src))
            elif path.suffix in (".py", ".sh"):
                texts.append(strip_hash_comments(src))
            else:
                texts.append(src)
    return texts


def unreached():
    """Top-level names not reachable from the outside texts or ALLOWED,
    following name mentions from each reached declaration's body."""
    bodies = {}
    for name, body in declarations():
        bodies.setdefault(name, []).append(body)
    outside = "\n".join(outside_texts())
    word = {name: re.compile(r"\b%s\b" % re.escape(name)) for name in bodies}
    todo = [n for n in bodies if n in ALLOWED or word[n].search(outside)]
    reached = set(todo)
    while todo:
        text = "\n".join(bodies[todo.pop()])
        new = {m for m in bodies.keys() - reached if word[m].search(text)}
        reached |= new
        todo.extend(new)
    return sorted(bodies.keys() - reached)


def main():
    found = unreached()
    for name in found:
        print(name)
    print(f"spec_only: {len(found)} top-level declarations only specs reach",
          file=sys.stderr)
    return 1 if found else 0


if __name__ == "__main__":
    sys.exit(main())
