"""Seeded synthetic git corpus for the ETL workloads, built with `git fast-import`.

Layout under the corpus directory:

    repos/                 the ETL root (scanned at depth 1)
      r00 .. rNN           small repositories
      giant                one large repository (the extraction straggler)
      notarepo/            a plain directory: must surface as a failure
      vendor/              a repository under an ignored name
    config.toml            ignored_repositories + author_map (aliased emails)
    manifest.json          what was generated, for the output checks

Adversarial content in every small repository: exact renames and copies,
binary files (numstat `-`), non-ASCII paths, paths with a tab or a newline,
empty commits, merge commits, non-ASCII author names and aliased emails.
Remotes: `git@github.com:` (rewritten by the ETL), https, and none.

Every repository also gets a `refs/bench/delta` ref:
about a quarter of the small repositories get ~20 new commits on top of
their head, one small repository is force-pushed (its delta branches off
five commits below the head), every other repository keeps its head.
"""
import json
import random
import subprocess

N_SMALL = 16
SMALL_COMMITS = 100
GIANT_COMMITS = 2000
DELTA_COMMITS = 20
REWIND_DEPTH = 5

AUTHORS = [
    ("Ada Lovelace", "ada@example.org"),
    ("Zoë Ångström", "zoe@example.org"),
    ("李雷", "lilei@example.cn"),
    ("Grace Hopper", "grace@example.org"),
    ("José Núñez", "jose@example.es"),
    ("Linus Ops", "linus@example.net"),
]
# alias email -> (name written in the commit, canonical name from author_map)
ALIASES = {
    "ada.l@old.example": ("ada", "Ada Lovelace"),
    "zoe@laptop.local": ("zoe-laptop", "Zoë Ångström"),
}
IGNORED = "vendor"
SUBJECTS = ["fix parser crash", "add retry to fetch", "refactor storage layer",
            "bug: off-by-one in window", "docs: update README", "café: ajuste de índice",
            "perf: faster scan", "fix typo", "merge cleanup", "tests: cover edge case"]
SPECIAL_PATHS = ["données/été.txt", "日本語/説明.md", "tab\there.txt", "new\nline.txt",
                 "spaces in name.txt", "quote\"d.txt"]
WORDS = ["alpha", "beta", "gamma", "delta", "omega", "kappa", "sigma", "theta"]


def _quote(path):
    """C-style quoted path for fast-import (handles tab, newline, quote)."""
    esc = path.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n").replace("\t", "\\t")
    return f"\"{esc}\""


class _Stream:
    """Accumulates one fast-import stream as bytes."""

    def __init__(self):
        self.parts = []
        self.mark = 0

    def raw(self, s):
        self.parts.append(s.encode("utf-8") if isinstance(s, str) else s)

    def data(self, payload):
        b = payload.encode("utf-8") if isinstance(payload, str) else payload
        self.raw(f"data {len(b)}\n")
        self.raw(b)
        self.raw("\n")

    def bytes(self):
        return b"".join(self.parts)


class _Repo:
    """Generates one repository's history into a fast-import stream."""

    def __init__(self, rng, stream, t0):
        self.rng = rng
        self.s = stream
        self.t = t0
        self.files = {}
        self.n_files = 0

    def _person(self):
        r = self.rng.random()
        if r < 0.15:
            email = self.rng.choice(sorted(ALIASES))
            return ALIASES[email][0], email
        return self.rng.choice(AUTHORS)

    def _lines(self, k):
        return [" ".join(self.rng.choice(WORDS) for _ in range(4)) + f" {self.rng.randrange(1000)}"
                for _ in range(k)]

    def _write(self, path, lines):
        self.files[path] = lines
        self.s.raw(f"M 100644 inline {_quote(path)}\n")
        self.s.data("".join(l + "\n" for l in lines))

    def _changes(self):
        rng = self.rng
        op = rng.random()
        if op < 0.04:
            return  # empty commit
        if op < 0.08 or not self.files:
            self.n_files += 1
            if self.n_files % 7 == 0:
                path = f"{SPECIAL_PATHS[(self.n_files // 7) % len(SPECIAL_PATHS)]}.{self.n_files}"
            else:
                path = f"src/mod{self.n_files}/file{self.n_files}.txt"
            self._write(path, self._lines(rng.randrange(3, 12)))
            return
        if op < 0.11:
            src = rng.choice(sorted(self.files))
            dst = f"moved/{self.n_files}-{rng.randrange(10**6)}.txt"
            self.n_files += 1
            self.s.raw(f"R {_quote(src)} {_quote(dst)}\n")
            self.files[dst] = self.files.pop(src)
            return
        text = [p for p in sorted(self.files) if self.files[p] is not None]
        if op < 0.13 and text:
            src = rng.choice(text)
            dst = f"copies/{self.n_files}-{rng.randrange(10**6)}.txt"
            self.n_files += 1
            self.s.raw(f"C {_quote(src)} {_quote(dst)}\n")
            self.files[dst] = list(self.files[src])
            self._write(src, self.files[src] + self._lines(1))
            return
        if op < 0.16:
            self.n_files += 1
            blob = bytes(rng.randrange(256) for _ in range(64)) + b"\0\0"
            path = f"bin/blob{self.n_files}.bin"
            self.files[path] = None
            self.s.raw(f"M 100644 inline {_quote(path)}\n")
            self.s.data(blob)
            return
        if op < 0.18 and len(self.files) > 3:
            path = rng.choice(sorted(self.files))
            del self.files[path]
            self.s.raw(f"D {_quote(path)}\n")
            return
        for path in rng.sample(text, min(len(text), rng.randrange(1, 4))):
            lines = list(self.files[path])
            for _ in range(rng.randrange(0, 3)):
                if lines:
                    del lines[rng.randrange(len(lines))]
            for _ in range(rng.randrange(1, 5)):
                lines.insert(rng.randrange(len(lines) + 1), self._lines(1)[0])
            self._write(path, lines)

    def commit(self, ref, parent=None, merge=None, body=None, subject=None):
        """One commit on `ref`; `body` writes its file commands (default: random changes)."""
        self.s.mark += 1
        mark = self.s.mark
        self.t += self.rng.randrange(60, 86400)
        name, email = self._person()
        msg = subject if subject is not None else self.rng.choice(SUBJECTS) + f" #{mark}"
        self.s.raw(f"commit {ref}\nmark :{mark}\n")
        self.s.raw(f"author {name} <{email}> {self.t - self.rng.randrange(3600)} +0000\n")
        self.s.raw(f"committer {name} <{email}> {self.t} +0000\n")
        self.s.data(msg)
        if parent is not None:
            self.s.raw(f"from :{parent}\n")
        if merge is not None:
            self.s.raw(f"merge :{merge}\n")
        (body or self._changes)()
        self.s.raw("\n")
        return mark

    def history(self, n, ref="refs/heads/main", parent=None, adversarial=True, simple=False):
        """n non-merge commits on `ref` starting from `parent`; with `adversarial`,
        every 25th step adds a side-branch commit and merges it back, and one
        commit has an empty message; `simple` limits changes to adds and edits
        (for branches off an older commit). Returns the first-parent chain of marks."""
        chain, tip = [], parent
        for i in range(n):
            if adversarial and tip is not None and i % 25 == 12:
                path, lines = f"side/note{i}.txt", self._lines(2)
                side = self.commit("refs/heads/side", parent=tip, body=lambda: self._write(path, lines))
                # the merge re-applies the side change: its tree is the union of both parents
                tip = self.commit(ref, parent=tip, merge=side, subject="Merge branch 'side'",
                                  body=lambda: self._write(path, lines))
            else:
                body = self._simple_change if simple else None
                tip = self.commit(ref, parent=tip, body=body,
                                  subject="" if adversarial and i == 40 else None)
            chain.append(tip)
        return chain

    def _simple_change(self):
        """Add-or-modify only: safe on a branch whose tree lags `self.files`."""
        text = sorted(p for p, v in self.files.items() if v is not None)
        if not text:
            self.n_files += 1
            self._write(f"src/file{self.n_files}.txt", self._lines(3))
            return
        path = self.rng.choice(text)
        self._write(path, self.files[path] + self._lines(self.rng.randrange(1, 4)))


def _git(cwd, *args, stdin=None):
    return subprocess.run(["git", *args], cwd=cwd, input=stdin, check=True,
                          capture_output=True).stdout


def _make_repo(path, stream_bytes, remote):
    path.mkdir(parents=True)
    _git(path, "init", "-q", "-b", "main")
    _git(path, "fast-import", "--quiet", stdin=stream_bytes)
    if remote:
        with open(path / ".git" / "config", "a") as f:
            f.write(f"[remote \"origin\"]\n\turl = {remote}\n")


def _rev(path, ref):
    return _git(path, "rev-parse", "--verify", ref).decode().strip()


def build(out, seed):
    """Generate the corpus under `out` (must not exist). Returns the manifest."""
    rng = random.Random(seed)
    repos_dir = out / "repos"
    repos_dir.mkdir(parents=True)
    names = [f"r{i:02d}" for i in range(N_SMALL)]
    pool = list(names)
    rng.shuffle(pool)
    since = set(pool[:N_SMALL // 4])
    rewind = pool[N_SMALL // 4]
    manifest = {"seed": seed, "repos": {}, "ignored": [IGNORED], "nonrepo": "notarepo",
                "author_map": {e: c for e, (_, c) in ALIASES.items()}}
    for i, name in enumerate(names + ["giant"]):
        st = _Stream()
        repo = _Repo(random.Random(f"{seed}/{name}"), st, 1_500_000_000 + i * 1000)
        giant = name == "giant"
        chain = repo.history(GIANT_COMMITS if giant else SMALL_COMMITS, adversarial=not giant)
        mode = "since" if name in since else "rewind" if name == rewind else "noop"
        if mode == "since":
            repo.history(DELTA_COMMITS, ref="refs/bench/delta", parent=chain[-1], adversarial=False, simple=True)
        elif mode == "rewind":
            repo.history(3, ref="refs/bench/delta", parent=chain[-1 - REWIND_DEPTH], adversarial=False, simple=True)
        remote = [f"git@github.com:org/{name}.git", f"https://example.org/{name}.git", None][i % 3]
        _make_repo(repos_dir / name, st.bytes(), remote)
        base = _rev(repos_dir / name, "refs/heads/main")
        manifest["repos"][name] = {
            "base": base, "remote": remote, "mode": mode,
            "delta": _rev(repos_dir / name, "refs/bench/delta") if mode != "noop" else base}

    # an ignored name (pruned by the scan although it is a repository) and a
    # plain directory (validated and reported as a failure)
    st = _Stream()
    _Repo(random.Random(f"{seed}/vendor"), st, 1_500_000_000).history(5, adversarial=False, simple=True)
    _make_repo(repos_dir / IGNORED, st.bytes(), None)
    (repos_dir / "notarepo").mkdir()
    (repos_dir / "notarepo" / "README.txt").write_text("not a repository\n")

    lines = [f'ignored_repositories = ["{IGNORED}"]', "", "[author_map]"]
    lines += [f'"{e}" = "{c}"' for e, c in manifest["author_map"].items()]
    (out / "config.toml").write_text("\n".join(lines) + "\n", encoding="utf-8")
    (out / "manifest.json").write_text(json.dumps(manifest, indent=1, ensure_ascii=False),
                                       encoding="utf-8")
    return manifest
