"""Weights-backed batched inference through ONNX Runtime (L3/R2/R4
future-proofing).

The reference's model stages (ParseNet ``layout_engines/
cnn_layout_engine.py:57-372``, the OCR net ``ocr_engine/
pytorch_ocr_engine.py:37-74``) run a torch net over padded batches with
one long-lived model instance per worker. Torch is absent from this
container, so those stages synthesize their maps; THIS module executes
the same cached-session mapInPandas pattern against a real serialized
model so the weights-backed path is exercised, not just simulated:

* ``mlp_model_bytes()`` — a 2-layer MLP (X @ W1 + B1 |> Relu |> @ W2 +
  B2) serialized as a valid ONNX ModelProto. The protobuf wire format
  is emitted by hand (varint + length-delimited fields) so the model
  file needs no onnx dependency to build and is byte-deterministic;
  ``ctc_passthrough_model_bytes()`` sizes it as the CTC frame-logit
  passthrough net.
* ``session_forward()`` — one batched forward through an ONNX Runtime
  session built ONCE per python worker process per model digest
  (module-level cache) — the pattern the reference's per-worker model
  instances require. It needs onnxruntime and raises
  ``NotImplementedError`` naming it when absent.
"""

from __future__ import annotations

import hashlib

import numpy as np

# ------------------------------------------------------------------
# protobuf wire-format emitters (proto3): enough for an ONNX ModelProto
# ------------------------------------------------------------------


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _tag(field: int, wire: int) -> bytes:
    return _varint((field << 3) | wire)


def _vint(field: int, n: int) -> bytes:  # wire type 0
    return _tag(field, 0) + _varint(n)


def _ld(field: int, payload: bytes) -> bytes:  # wire type 2
    return _tag(field, 2) + _varint(len(payload)) + payload


def _str(field: int, s: str) -> bytes:
    return _ld(field, s.encode("utf-8"))


def _tensor(name: str, arr: np.ndarray) -> bytes:
    """TensorProto: dims(1), data_type(2)=FLOAT, name(8), raw_data(9)."""
    arr = np.ascontiguousarray(arr, dtype=np.float32)
    msg = b"".join(_vint(1, d) for d in arr.shape)
    msg += _vint(2, 1)  # onnx.TensorProto.FLOAT
    msg += _str(8, name)
    msg += _ld(9, arr.tobytes())
    return msg


def _value_info(name: str, dims: list) -> bytes:
    """ValueInfoProto{name(1), type(2)=TypeProto{tensor_type(1)=
    Tensor{elem_type(1), shape(2)=Shape{dim(1)...}}}}; a string dim is
    a symbolic dim_param (the batch axis)."""
    shape = b""
    for d in dims:
        if isinstance(d, str):
            shape += _ld(1, _str(2, d))  # Dimension.dim_param
        else:
            shape += _ld(1, _vint(1, int(d)))  # Dimension.dim_value
    tensor = _vint(1, 1) + _ld(2, shape)  # elem_type FLOAT, shape
    return _str(1, name) + _ld(2, _ld(1, tensor))


def _node(op: str, inputs: list[str], outputs: list[str], name: str) -> bytes:
    msg = b"".join(_str(1, i) for i in inputs)
    msg += b"".join(_str(2, o) for o in outputs)
    msg += _str(3, name)
    msg += _str(4, op)
    return msg


# ------------------------------------------------------------------
# MLP models
# ------------------------------------------------------------------


def mlp_model_bytes(w: dict[str, np.ndarray], name: str = "toy_mlp") -> bytes:
    """Serialize X @ W1 + B1 |> Relu |> @ W2 + B2 as an ONNX ModelProto
    (ir_version 8, default-domain opset 13) for any weight shapes."""
    graph = b"".join(
        [
            _ld(1, _node("MatMul", ["X", "W1"], ["h0"], "mm1")),
            _ld(1, _node("Add", ["h0", "B1"], ["h1"], "add1")),
            _ld(1, _node("Relu", ["h1"], ["h2"], "relu")),
            _ld(1, _node("MatMul", ["h2", "W2"], ["h3"], "mm2")),
            _ld(1, _node("Add", ["h3", "B2"], ["Y"], "add2")),
            _str(2, name),
            _ld(5, _tensor("W1", w["W1"])),
            _ld(5, _tensor("B1", w["B1"])),
            _ld(5, _tensor("W2", w["W2"])),
            _ld(5, _tensor("B2", w["B2"])),
            _ld(11, _value_info("X", ["N", w["W1"].shape[0]])),
            _ld(12, _value_info("Y", ["N", w["W2"].shape[1]])),
        ]
    )
    return b"".join(
        [
            _vint(1, 8),  # ir_version
            _str(2, "pero_ocr_spark"),  # producer_name
            _ld(7, graph),
            _ld(8, _vint(2, 13)),  # opset_import {version: 13}
        ]
    )


def ctc_passthrough_weights(c: int, shift: float = 100.0) -> dict[str, np.ndarray]:
    """An MLP whose forward pass is the identity on logits in
    (-shift, inf): W1 = I, B1 = +shift (lifts every logit above the
    relu cut), W2 = I, B2 = -shift. Synth logits take values in
    {-80, 0}, both exactly representable through the shift in float32,
    so session output == session input BIT-exactly — the oracle that
    lets the weights-backed recognize path be verified end-to-end
    against the synth-decode path."""
    eye = np.eye(c, dtype=np.float32)
    return {
        "W1": eye,
        "B1": np.full(c, shift, dtype=np.float32),
        "W2": eye,
        "B2": np.full(c, -shift, dtype=np.float32),
    }


def ctc_passthrough_model_bytes(c: int) -> bytes:
    """Frame-logit passthrough net sized to the CTC charset — the
    stand-in for real OCR weights that exercises the identical
    crop/batch -> cached session -> logits -> decode dataflow
    (ref pytorch_ocr_engine.py:37-74)."""
    return mlp_model_bytes(ctc_passthrough_weights(c), name="ctc_passthrough")


# ------------------------------------------------------------------
# cached per-worker sessions
# ------------------------------------------------------------------

_SESSIONS: dict[str, object] = {}


def _session(model_bytes: bytes):
    """One InferenceSession per (worker process, model digest) — the
    cached-session pattern: construction is the expensive part, batches
    stream through a long-lived instance."""
    key = hashlib.sha256(model_bytes).hexdigest()
    sess = _SESSIONS.get(key)
    if sess is None:
        try:
            import onnxruntime as ort
        except ImportError as e:
            raise NotImplementedError(
                "weights-backed inference needs the 'onnxruntime' "
                "package, which is not installed in this container; "
                "use backend='numpy' for the portable twin"
            ) from e
        sess = ort.InferenceSession(
            model_bytes, providers=["CPUExecutionProvider"]
        )
        _SESSIONS[key] = sess
    return sess


def session_forward(model_bytes: bytes, x: np.ndarray) -> np.ndarray:
    """One batched forward through the cached per-worker session.
    Raises NotImplementedError naming onnxruntime when it is absent."""
    x = np.ascontiguousarray(x, dtype=np.float32)
    return _session(model_bytes).run(["Y"], {"X": x})[0]

