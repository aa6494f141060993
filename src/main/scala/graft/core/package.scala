package graft

package object core {
  /** The vector decode every [[RecordParser]] implements, under the
    * name callers match on to reach it. */
  type VectorWriteSupport = RecordParser
}
