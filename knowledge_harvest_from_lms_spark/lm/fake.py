"""Deterministic SUBWORD masked-LM backend for integration tests.

``FakeSubwordMLM`` subclasses :class:`~.hf.HFMaskedLM` and replaces
ONLY the torch forward with a seeded numpy function of the unpadded
input ids — every other code path (sentencepiece-style tokenizer
plumbing, PLL row plans, packed batching, partial_slot_text /
masked_run / decode used by the beam) is the REAL HF-backend code.
This is what lets the full beam-search operator run over HF-style
multi-token words in a torch-less sandbox: the word-level StubMLM can
never exercise subword completion (one word == one token there).

Resolved via ``resolve_lm("fake")`` — deterministic across processes
and partitionings (blake2b-seeded PCG64, no Python hash()).

Tokenizer: sentencepiece-ish. Words split into ≤``piece_len``-char
pieces; the first piece of each word carries the word-boundary marker
``▁`` (decode joins pieces and turns ``▁`` back into spaces). The
mask token is an added token split out of words before piece
encoding, so ``partial_slot_text``'s ``decode(ids) + <mask>*k`` shape
round-trips exactly like a real HF tokenizer.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Sequence

import numpy as np

from .hf import HFMaskedLM

MASK = "<mask>"
BOUND = "▁"  # ▁ sentencepiece word-boundary marker
V = 4096
PAD_ID, MASK_ID, BOS_ID, EOS_ID = 0, 1, 2, 3
_SPECIAL_TEXT = {PAD_ID: "<pad>", MASK_ID: MASK, BOS_ID: "<s>", EOS_ID: "</s>"}


def _stable64(s: str) -> int:
    return int.from_bytes(hashlib.blake2b(s.encode(), digest_size=8).digest(), "big")


def deterministic_logits(
    ids_list: Sequence[Sequence[int]], vocab: int, seed: int
) -> np.ndarray:
    """Seeded numpy stand-in for a padded MLM forward: logits are a pure
    function of (unpadded input ids, position, seed) — identical across
    processes and partitionings. Shared by every fake backend
    (sentencepiece / byte-BPE / WordPiece)."""
    maxlen = max(len(ids) for ids in ids_list)
    out = np.zeros((len(ids_list), maxlen, vocab))
    for j, ids in enumerate(ids_list):
        key = ",".join(str(int(i)) for i in ids)
        for pos in range(len(ids)):
            s = (_stable64(f"{key}|{pos}") ^ seed) & 0x7FFFFFFFFFFFFFFF
            rng = np.random.Generator(np.random.PCG64(s))
            out[j, pos] = rng.standard_normal(vocab)
    return out


class FakeSubwordTokenizer:
    """Minimal HF-tokenizer surface (encode/decode/specials) with
    deterministic hashed piece ids."""

    mask_token = MASK
    mask_token_id = MASK_ID
    pad_token_id = PAD_ID
    vocab_size = V
    all_special_ids = [PAD_ID, MASK_ID, BOS_ID, EOS_ID]

    def __init__(self, piece_len: int = 3):
        self._piece_len = piece_len
        self._rev: dict[int, str] = dict(_SPECIAL_TEXT)
        # Pre-register a deterministic vocabulary: beam token ids cross
        # shuffle boundaries, so decode must work in processes that
        # never encoded the piece. Built from the fixture world + stub
        # filler words, sorted for collision determinism.
        from ..sources.fixtures import FIXTURE_RELATIONS
        from .stub import FILLER_WORDS

        words: set[str] = set(FILLER_WORDS)
        for rel in FIXTURE_RELATIONS:
            for p in list(rel["init_prompts"]) + list(rel.get("prompts", [])):
                words.update(
                    w.strip(",.;:!?\"'()").lower()
                    for w in p.replace("<ENT0>", " ").replace("<ENT1>", " ")
                    .replace("<ENT2>", " ").split()
                )
            for tup in rel["seed_ent_tuples"]:
                for e in tup:
                    words.update(e.replace("_", " ").lower().split())
        for w in sorted(words):
            if w:
                for word_start in (True, False):
                    for piece in self._pieces(w, word_start):
                        self._register(piece)

    def _register(self, piece: str) -> int:
        """Construction only: ``piece`` owns its id's decode entry."""
        pid = self._pid(piece)
        self._rev[pid] = piece
        return pid

    def _pid(self, piece: str) -> int:
        # Piece ids collide in V slots: an encode only fills an id no
        # piece owns yet, so the decode of a registered id never
        # depends on what this process encoded before.
        pid = 4 + _stable64(piece) % (V - 4)
        self._rev.setdefault(pid, piece)
        return pid

    def _pieces(self, word: str, word_start: bool) -> list[str]:
        pieces = [
            word[i: i + self._piece_len]
            for i in range(0, len(word), self._piece_len)
        ]
        if word_start:
            pieces[0] = BOUND + pieces[0]
        return pieces

    def _encode_word(self, word: str, word_start: bool) -> list[int]:
        return [self._pid(p) for p in self._pieces(word, word_start)]

    def encode(self, text: str, add_special_tokens: bool = True) -> list[int]:
        ids: list[int] = []
        for chunk in text.split():
            word_start = True
            for part in re.split(f"({re.escape(MASK)})", chunk):
                if not part:
                    continue
                if part == MASK:
                    ids.append(MASK_ID)
                    word_start = False
                else:
                    ids.extend(self._encode_word(part, word_start))
                    word_start = False
        return [BOS_ID] + ids + [EOS_ID] if add_special_tokens else ids

    def decode(self, ids) -> str:
        if isinstance(ids, (int, np.integer)):
            ids = [int(ids)]
        out = []
        for i in ids:
            i = int(i)
            if i in (BOS_ID, EOS_ID, PAD_ID):
                continue
            out.append(self._rev.get(i, "<unk>"))
        return "".join(out).replace(BOUND, " ").strip()


class FakeSubwordMLM(HFMaskedLM):
    def __init__(self, seed: int = 42):  # no torch, no downloads
        self._tok = FakeSubwordTokenizer()
        self.mask_token = self._tok.mask_token
        self._seed = seed
        from ..functions.stopwords import STOPWORD_SET

        banned = list(self._tok.all_special_ids)
        # ban the single-piece stopword forms the beam could emit
        for w in STOPWORD_SET:
            if len(w) <= self._tok._piece_len:
                banned.append(self._tok._register(BOUND + w))
        self._banned = np.array(sorted(set(banned)), dtype=np.int64)

    def _forward_logits_padded(self, ids_list: Sequence[Sequence[int]]) -> np.ndarray:
        return deterministic_logits(ids_list, V, self._seed)


_FAKE_CACHE: dict[int, FakeSubwordMLM] = {}


def get_cached_fake_lm(seed: int = 42) -> FakeSubwordMLM:
    if seed not in _FAKE_CACHE:
        _FAKE_CACHE[seed] = FakeSubwordMLM(seed)
    return _FAKE_CACHE[seed]
