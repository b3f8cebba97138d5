"""Surrogate character vocabulary.

The reference ships a fixed 21,128-entry Chinese wordpiece vocab
(``config/vocab_chinese.txt``; featurization is char-level so only
single-char entries matter, ``crf_utils.py:150-163``). We do not copy
that file; instead we build a deterministic surrogate vocab that keeps
the reference's *special-token layout* — ``[PAD]`` at id 0, the curly
quotes at ids 1/2, ``[UNK]``/``[CLS]``/``[SEP]`` at ids 100/101/102 —
and fills content ids from 103 with a fixed char pool (zh punctuation,
printable ASCII, a contiguous CJK block). OOV chars map to ``[UNK]``
exactly as ``crf_utils.py:158-159``.
"""

from __future__ import annotations

from functools import lru_cache

PAD, UNK, CLS, SEP = "[PAD]", "[UNK]", "[CLS]", "[SEP]"

PAD_ID, UNK_ID, CLS_ID, SEP_ID = 0, 100, 101, 102


@lru_cache(maxsize=1)
def build_vocab() -> dict[str, int]:
    """token → id. Deterministic; no file I/O."""
    tokens: list[str] = [PAD, "“", "”"]
    # reserved slots up to 99, mirroring the reference's [unusedN] region
    tokens += [f"[unused{i}]" for i in range(len(tokens), 100)]
    tokens += [UNK, CLS, SEP]
    # content chars (fixed order): zh sentence punctuation, ASCII, CJK block
    content: list[str] = list("；，？。！…、：《》（）")
    content += [chr(c) for c in range(0x20, 0x7F)]
    content += [chr(0x4E00 + i) for i in range(3000)]
    seen = set(tokens)
    for ch in content:
        if ch not in seen:
            tokens.append(ch)
            seen.add(ch)
    vocab = {tok: i for i, tok in enumerate(tokens)}
    assert vocab[PAD] == PAD_ID and vocab[UNK] == UNK_ID
    assert vocab[CLS] == CLS_ID and vocab[SEP] == SEP_ID
    return vocab


@lru_cache(maxsize=1)
def vocab_size() -> int:
    return len(build_vocab())
