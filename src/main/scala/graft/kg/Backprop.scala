package graft.kg

import SentenceModel.Layout

/**
 * Truncation test hooks for the `single_small` LSTM
 * ([[SentenceModel.lstm]]): the window-entry state and the loss from a
 * detached state, which let a finite-difference check evaluate the
 * truncated gradient numerically.
 */
object Backprop {

  private def run(f: Array[Double], l: Layout[LstmLayer.Cell], retain: Double, seq: Array[Int],
      trace: LstmLayer.Trace, h0: Array[Double], c0: Array[Double]): Array[Array[Double]] =
    l.layers.head.forwardFrom(f, FlatModel.embed(f, l.emb, l.embDim, retain, Array(seq)),
      trace, h0, c0)

  /** State (h, c) after the first `tCut` steps from the zero state —
    * FD support for the truncation semantics: the truncated gradient is
    * the exact gradient of [[lossFromState]] with this window-entry state
    * detached (held constant), which this pair of helpers lets a test
    * evaluate numerically. */
  private[kg] def stateAt(f: Array[Double], l: Layout[LstmLayer.Cell], retain: Double,
      seq: Array[Int], tCut: Int): (Array[Double], Array[Double]) = {
    val trace = new LstmLayer.Trace(tCut)
    val states = run(f, l, retain, seq.take(tCut), trace, null, null)
    if (tCut == 0) (new Array[Double](l.hidden), new Array[Double](l.hidden))
    else (states(tCut - 1), trace.cs(tCut - 1))
  }

  /** Loss of the readout over the suffix run from a FIXED (detached)
    * initial state — the function whose exact gradient the truncated
    * model's `accumulate` computes. */
  private[kg] def lossFromState(f: Array[Double], l: Layout[LstmLayer.Cell], retain: Double,
      suffix: Array[Int], label: Int, mask: Array[Float],
      h0: Array[Double], c0: Array[Double]): Double = {
    val states = run(f, l, retain, suffix, null, h0, c0)
    val hT = if (states.isEmpty) h0 else states(states.length - 1)
    FlatModel.lossGrad(FlatModel.readout(f, l.dense, l.denseB, l.relSize, hT, retain),
      label, mask)._1
  }
}
